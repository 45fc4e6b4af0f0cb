"""The benchmark's lifecycle generator and model.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.lifecycle import (BILL, DERIVED_MODE, IMMEDIATE_MODE,  # noqa: E402
                                 PAYMENT, PROMISE, PURCHASE, Lifecycle, Model,
                                 lifecycle_events, promise_id)

T0 = "2026-01-01T00:00:00.000Z"

# FIXTURES.md A3: readme steps A/B/C on a fixed logical clock
GOLDEN = [
    {"event_type": PURCHASE, "order_id": "order-u01", "user_id": "u01",
     "amount": 5000, "ingest_ts": T0},
    {"event_type": PROMISE, "promise_id": "pr-001", "order_id": "order-u01",
     "user_id": "u01", "due_date": "2026-01-31", "payment_mode": DERIVED_MODE,
     "ingest_ts": T0},
    {"event_type": BILL, "bill_id": "b-001", "promise_id": "pr-001",
     "user_id": "u01", "amount": 5000, "issued_date": "2026-01-01",
     "ingest_ts": T0},
    {"event_type": PAYMENT, "bill_id": "b-001", "user_id": "u01",
     "amount": 5000, "paid_date": "2026-01-02",
     "ingest_ts": "2026-01-02T00:00:00.000Z"},
]
SECOND_USER = [
    {"event_type": BILL, "bill_id": "b-002", "promise_id": "pr-002",
     "user_id": "u02", "amount": 700, "issued_date": "2026-01-03",
     "ingest_ts": "2026-01-03T00:00:00.000Z"},
]

GOLDEN_PROMISES = {
    ("pr-001", "order-u01", "u01", None, "2026-01-31", DERIVED_MODE),
    (promise_id("u01"), "order-u01", "u01", 5000, "2026-01-31", DERIVED_MODE),
}
GOLDEN_BILL = ("b-001", "pr-001", "u01", 5000, "paid", "2026-01-01",
               "2026-01-02")


def fold(events) -> Model:
    m = Model()
    for e in events:
        m.apply_line(json.dumps(e, ensure_ascii=False))
    return m


def test_golden_sequence():
    m = fold(GOLDEN)
    assert m.promises() == GOLDEN_PROMISES
    assert m.bills() == {GOLDEN_BILL}


def test_golden_v1_duplicate_delivery_is_idempotent():
    m = fold(GOLDEN + GOLDEN)
    assert m.promises() == GOLDEN_PROMISES
    assert m.bills() == {GOLDEN_BILL}


def test_golden_v2_payment_before_bill_converges():
    m = fold(list(reversed(GOLDEN)))
    assert m.promises() == GOLDEN_PROMISES
    assert m.bills() == {GOLDEN_BILL}


def test_golden_v3_second_user_stays_unpaid():
    m = fold(GOLDEN + SECOND_USER)
    assert m.bills() == {GOLDEN_BILL, ("b-002", "pr-002", "u02", 700,
                                       "unpaid", "2026-01-03", None)}
    assert m.user_status("u02") == (
        set(), {("b-002", 700, "unpaid", "2026-01-03", None)})


def test_same_seed_same_bytes():
    a = "\n".join(lifecycle_events(7, 800)[0]).encode()
    assert a == "\n".join(lifecycle_events(7, 800)[0]).encode()
    assert a != "\n".join(lifecycle_events(8, 800)[0]).encode()


def test_command_choices_repeat_per_seed():
    def steps(seed):
        life = Lifecycle(seed, n_users=20, dup_share=0.2)
        out = []
        for i in range(200):
            user = life.users.draw(life.rng)
            step = life.next_step(user)
            life.record(step, f"bill-{i}")
            out.append(step)
        return out
    a = steps(3)
    assert a == steps(3) and a != steps(4)
    assert {s.kind for s in a} == {"purchase", "bill", "pay"}
    assert any(s.duplicate for s in a)


def test_stream_covers_types_skew_duplicates_and_reorders():
    lines, _ = lifecycle_events(11, 3000, dup_share=0.05, reorder_share=0.05)
    events = [json.loads(x) for x in lines]
    assert {e["event_type"] for e in events} == {PURCHASE, PROMISE, BILL,
                                                 PAYMENT}
    assert {e["payment_mode"] for e in events if "payment_mode" in e} == {
        IMMEDIATE_MODE}
    assert len(set(lines)) < len(lines)           # byte-identical duplicates
    first: dict[tuple, int] = {}
    for i, e in enumerate(events):
        key = (e["event_type"], e.get("bill_id") or e["user_id"])
        first.setdefault(key, i)
    assert any(first[(PAYMENT, b)] < first[(BILL, b)]
               for t, b in first if t == BILL and (PAYMENT, b) in first)
    m = Model()
    for x in lines:
        m.apply_line(x)
    modes = {p[5] for p in m.promises()}
    assert modes == {DERIVED_MODE, IMMEDIATE_MODE}
    users = [e["user_id"] for e in events]
    top = max(set(users), key=users.count)
    assert users.count(top) > 10 * len(users) / len(set(users))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def test_model_matches_engine_on_generated_stream(spark, tmp_path):
    from event_streaming_bnpl_demo_spark.streaming.pipeline import \
        BnplPipeline

    lines, _ = lifecycle_events(5, 400, n_users=40, dup_share=0.1,
                                reorder_share=0.1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "events.jsonl").write_text("\n".join(lines) + "\n",
                                         encoding="utf-8")
    pipe = BnplPipeline(spark, str(in_dir), str(tmp_path / "out"))
    pipe.replay_batch()
    iso = lambda d: d.isoformat() if d is not None else None  # noqa: E731
    got_p = {(r.id, r.order_id, r.user_id, r.amount, iso(r.due_date),
              r.payment_mode) for r in pipe.promises().collect()}
    got_b = {(r.id, r.promise_id, r.user_id, r.amount, r.status,
              iso(r.issued_date), iso(r.paid_date))
             for r in pipe.bills().collect()}
    m = Model()
    for x in lines:
        m.apply_line(x)
    assert got_p == m.promises()
    assert got_b == m.bills()
