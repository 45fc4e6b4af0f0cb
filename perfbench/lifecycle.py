"""Seeded BNPL lifecycle generator and its pure-Python expected-state model.

The generator walks each user through the reference lifecycle
(purchase -> promise -> bill -> payment -> next bill ...) with Zipf-skewed
user choice. It emits all four event types of the envelope, a stated share
of byte-identical duplicate deliveries, a stated share of reorders
(payment before its bill, promise before its purchase) and both UTF-8
``payment_mode`` values. The same seed gives the same bytes.

:class:`Model` folds events the way the engine documents its projections,
so a benchmark can check the engine's output without Spark:

- archived events are deduplicated on their exact JSON text;
- every ``PurchaseCompletedEvent`` derives a promise whose id is
  ``md5('promise:' + order_id)`` with ``order_id = 'order-' + user_id``,
  so each user has one derived promise; per promise id the earliest
  ``ingest_ts`` wins (first-seen);
- a bill folds every event carrying its ``bill_id`` in any order: the
  creation's amount/promise/issue date, the latest ``paid_date`` and
  status ``paid`` once any payment arrived.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

DERIVED_MODE = "月まとめ払い"
IMMEDIATE_MODE = "すぐ払い"

#: the generator's logical clock: where it starts and its step per event
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
STEP_US = 1000

PURCHASE = "PurchaseCompletedEvent"
PROMISE = "PaymentPromiseCreatedEvent"
BILL = "MemberBillCreatedEvent"
PAYMENT = "PaymentCompletedEvent"


def order_id(user_id: str) -> str:
    return f"order-{user_id}"


def promise_id(user_id: str) -> str:
    """The id the engine derives for a user's promise."""
    return hashlib.md5(f"promise:{order_id(user_id)}".encode()).hexdigest()


def format_ts(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def parse_ts(text: str) -> datetime:
    return datetime.fromisoformat(text.replace("Z", "+00:00"))


def dumps(event: dict) -> str:
    """The wire form: one JSON line, UTF-8 kept as is."""
    return json.dumps(event, ensure_ascii=False)


class ZipfUsers:
    """Zipf(s) over ``n`` user ids: rank r is drawn with weight 1/r^s."""

    def __init__(self, n: int, s: float):
        self.ids = [f"u{i:06d}" for i in range(n)]
        self._cum = list(itertools.accumulate(1.0 / (r ** s)
                                              for r in range(1, n + 1)))

    def draw(self, rng: random.Random) -> str:
        x = rng.random() * self._cum[-1]
        return self.ids[min(bisect.bisect_left(self._cum, x),
                            len(self.ids) - 1)]

    def draw_distinct(self, rng: random.Random, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            u = self.draw(rng)
            if u not in out:
                out.append(u)
        return out


@dataclass
class UserState:
    """Where one user stands in the lifecycle."""
    amount: int | None = None          # set once purchased
    unpaid_bill: str | None = None     # bill id awaiting payment
    last_payment: tuple[str, int] | None = None   # (bill id, amount)


@dataclass(frozen=True)
class Step:
    """One lifecycle action: ``kind`` is purchase, bill or pay."""
    user_id: str
    kind: str
    amount: int
    bill_id: str | None = None
    duplicate: bool = False


@dataclass
class Lifecycle:
    """Seeded choice of each user's next lifecycle action."""
    seed: int
    n_users: int = 2000
    zipf_s: float = 1.1
    dup_share: float = 0.05
    users: ZipfUsers = field(init=False)
    rng: random.Random = field(init=False)
    state: dict[str, UserState] = field(init=False, default_factory=dict)

    def __post_init__(self):
        self.users = ZipfUsers(self.n_users, self.zipf_s)
        self.rng = random.Random(self.seed)

    def user(self, user_id: str) -> UserState:
        return self.state.setdefault(user_id, UserState())

    def next_step(self, user_id: str) -> Step:
        """Pick the user's next action. A duplicate re-sends the user's
        last purchase or payment with the same arguments."""
        st = self.user(user_id)
        rng = self.rng
        if st.amount is None:
            return Step(user_id, "purchase", rng.randint(10, 500) * 100)
        if rng.random() < self.dup_share:
            if st.last_payment is not None:
                bill, amount = st.last_payment
                return Step(user_id, "pay", amount, bill, duplicate=True)
            return Step(user_id, "purchase", st.amount, duplicate=True)
        if st.unpaid_bill is not None:
            return Step(user_id, "pay", st.amount, st.unpaid_bill)
        return Step(user_id, "bill", st.amount)

    def record(self, step: Step, bill_id: str | None = None) -> None:
        """Advance the user's state once ``step`` was sent; ``bill_id``
        is the id a bill step was given."""
        st = self.user(step.user_id)
        if step.kind == "purchase":
            st.amount = step.amount
        elif step.kind == "bill":
            st.unpaid_bill = bill_id
        elif step.kind == "pay":
            st.unpaid_bill = None
            st.last_payment = (step.bill_id, step.amount)


def lifecycle_events(seed: int, n_events: int, n_users: int = 2000,
                     zipf_s: float = 1.1, dup_share: float = 0.05,
                     reorder_share: float = 0.05
                     ) -> tuple[list[str], Lifecycle]:
    """``n_events`` JSON lines (duplicates included) in delivery order,
    and the lifecycle with every user's state after them.

    Every event carries a distinct ``ingest_ts`` on a logical clock that
    starts at ``T0`` and advances ``STEP_US`` per event, except that a
    duplicate carries its original's bytes. A reorder delivers a
    payment before its bill, or an explicit ``すぐ払い`` promise before
    the purchase it belongs to (so the explicit promise is first-seen);
    without a reorder the explicit promise, when there is one, follows
    the purchase and loses to the derived one.
    """
    life = Lifecycle(seed, n_users, zipf_s, dup_share=0.0)
    rng = random.Random(seed ^ 0x5EED)
    clock = itertools.count()
    out: list[str] = []
    pending: list[tuple[int, str]] = []   # (deliver at len(out), line)

    def ts() -> str:
        return format_ts(T0 + timedelta(microseconds=STEP_US * next(clock)))

    def emit(event: dict) -> None:
        line = dumps(event)
        out.append(line)
        if rng.random() < dup_share:
            pending.append((len(out) + rng.randint(0, 20), line))

    def day(stamp: str) -> str:
        return stamp[:10]

    n_bills = 0
    while len(out) < n_events:
        for due in [p for p in pending if p[0] <= len(out)]:
            pending.remove(due)
            out.append(due[1])
        u = life.users.draw(life.rng)
        step = life.next_step(u)
        reorder = rng.random() < reorder_share
        if step.kind == "purchase":
            explicit = rng.random() < 0.1
            t_promise, t_purchase = (ts(), ts()) if reorder else (None, ts())
            purchase = {"event_type": PURCHASE, "order_id": order_id(u),
                        "user_id": u, "amount": step.amount,
                        "ingest_ts": t_purchase}
            promise = None
            if explicit or reorder:
                t_promise = t_promise or ts()
                promise = {"event_type": PROMISE,
                           "promise_id": promise_id(u),
                           "order_id": order_id(u), "user_id": u,
                           "amount": step.amount,
                           "due_date": (parse_ts(t_promise).date()
                                        + timedelta(days=14)).isoformat(),
                           "payment_mode": IMMEDIATE_MODE,
                           "ingest_ts": t_promise}
            if promise is not None and reorder:
                emit(promise)
            emit(purchase)
            if promise is not None and not reorder:
                emit(promise)
            life.record(step)
        elif step.kind == "bill":
            n_bills += 1
            bill_id = f"b-{seed}-{n_bills:07d}"
            bill = {"event_type": BILL, "bill_id": bill_id,
                    "promise_id": promise_id(u), "user_id": u,
                    "amount": step.amount, "ingest_ts": ts()}
            bill["issued_date"] = day(bill["ingest_ts"])
            if reorder:
                t_pay = ts()
                payment = {"event_type": PAYMENT, "bill_id": bill_id,
                           "user_id": u, "amount": step.amount,
                           "paid_date": day(t_pay), "ingest_ts": t_pay}
                emit(payment)
                emit(bill)
                life.record(step, bill_id)
                life.record(Step(u, "pay", step.amount, bill_id))
            else:
                emit(bill)
                life.record(step, bill_id)
        else:
            t_pay = ts()
            emit({"event_type": PAYMENT, "bill_id": step.bill_id,
                  "user_id": u, "amount": step.amount,
                  "paid_date": day(t_pay), "ingest_ts": t_pay})
            life.record(step)
    return out[:n_events], life


class Model:
    """Expected ``payment_promises`` and ``member_bills`` of the engine."""

    def __init__(self):
        self._seen: set[str] = set()
        self._promises: dict[str, tuple[datetime, tuple]] = {}
        self._bills: dict[str, dict] = {}

    def apply_line(self, line: str) -> None:
        if line in self._seen:
            return
        self._seen.add(line)
        self.apply(json.loads(line))

    def apply(self, e: dict) -> None:
        kind = e["event_type"]
        ts = parse_ts(e["ingest_ts"])
        if kind == PURCHASE:
            due = (ts.date() + timedelta(days=30)).isoformat()
            self._promise(promise_id(e["user_id"]), ts,
                          (e["order_id"], e["user_id"], e.get("amount"),
                           due, DERIVED_MODE))
        elif kind == PROMISE:
            self._promise(e["promise_id"], ts,
                          (e.get("order_id"), e["user_id"], e.get("amount"),
                           e.get("due_date"), e.get("payment_mode")))
        elif kind in (BILL, PAYMENT):
            b = self._bills.setdefault(e["bill_id"], {
                "promise_id": None, "user_id": None, "create_amount": None,
                "any_amount": None, "issued_date": None, "paid_date": None})
            b["user_id"] = _max(b["user_id"], e.get("user_id"))
            b["any_amount"] = _max(b["any_amount"], e.get("amount"))
            if kind == BILL:
                b["promise_id"] = _max(b["promise_id"], e.get("promise_id"))
                b["create_amount"] = _max(b["create_amount"], e.get("amount"))
                b["issued_date"] = _max(b["issued_date"], e.get("issued_date"))
            else:
                b["paid_date"] = _max(b["paid_date"], e.get("paid_date"))

    def _promise(self, pid: str, ts: datetime, row: tuple) -> None:
        have = self._promises.get(pid)
        if have is None or ts < have[0]:
            self._promises[pid] = (ts, row)

    def promises(self) -> set[tuple]:
        """Rows ``(id, order_id, user_id, amount, due_date, payment_mode)``."""
        return {(pid, *row) for pid, (_, row) in self._promises.items()}

    def bills(self) -> set[tuple]:
        """Rows ``(id, promise_id, user_id, amount, status, issued_date,
        paid_date)``."""
        return {(bid, b["promise_id"], b["user_id"],
                 b["create_amount"] if b["create_amount"] is not None
                 else b["any_amount"],
                 "paid" if b["paid_date"] is not None else "unpaid",
                 b["issued_date"], b["paid_date"])
                for bid, b in self._bills.items()}

    def user_status(self, user_id: str) -> tuple[set[tuple], set[tuple]]:
        """What ``GET /user/:id/status`` should return: promise rows
        ``(order_id, amount, due_date, payment_mode)`` and bill rows
        ``(id, amount, status, issued_date, paid_date)``."""
        p = {(o, a, d, m) for _, o, u, a, d, m in self.promises()
             if u == user_id}
        b = {(i, a, s, iss, paid) for i, _, u, a, s, iss, paid in self.bills()
             if u == user_id}
        return p, b


def _max(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return max(a, b)
