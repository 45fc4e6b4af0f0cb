"""``bnpl_oltp``: one closed-loop client calling ``BnplEngine`` in its
default mode. The engine starts from a seeded history of its user pool;
each round then sends a burst of lifecycle commands on distinct
Zipf-chosen users, calls ``process()``, reads ``user_status`` for the
touched users and checks every read against the lifecycle model.
"""

from __future__ import annotations

import glob
import os
import sys
import time
from datetime import date, datetime, timezone

from perfbench.lifecycle import (BILL, PAYMENT, PURCHASE, Lifecycle, Model,
                                 format_ts, lifecycle_events, order_id,
                                 promise_id)
from perfbench.tracing import (ProgressCollector, Tracer,
                               checkpoint_files_per_batch,
                               checkpoint_seen_files, median, quantile)

#: commands per round, on distinct users
BURST = 2
#: user pool and skew: small enough that users come back within a run,
#: so bills and payments follow purchases
N_USERS = 50
ZIPF_S = 1.1
#: share of commands that re-send the user's last purchase or payment
DUP_SHARE = 0.1
#: the history staged before the first process(): every user of the pool
#: is part way through the lifecycle and the log holds all event types,
#: duplicate deliveries and reorders, so runs differ in detail, not in kind
HISTORY_EVENTS = 200
HISTORY_DUP_SHARE = 0.05
HISTORY_REORDER_SHARE = 0.05
#: set-ups per run: the first launches the JVM, the second restarts the
#: session; more do not fit the run-time budget
SETUP_REPS = 2
#: rounds a run measures at least, however long they take
MIN_ROUNDS = 2


def _dates() -> tuple[date, date]:
    return date.today(), datetime.now(timezone.utc).date()


def _drop_dates(rows, idx) -> list[tuple]:
    return sorted(tuple(v for i, v in enumerate(r) if i not in idx)
                  for r in rows)


class Client:
    """The benchmark's client: engine calls, each mirrored into the model."""

    def __init__(self, spark, data_dir: str, tracer: Tracer):
        from event_streaming_bnpl_demo_spark.engine import BnplEngine

        self.engine = BnplEngine(spark, data_dir)
        self.tracer = tracer
        self.model = Model()
        self.ambiguous: set[str] = set()   # users whose command spanned midnight
        self.backlog: list[int] = []   # unread input files at each process()
        self.attempted = 0
        self.failed = 0

    def stage_history(self, seed: int) -> Lifecycle:
        """Write the seeded history as one input file; returns the
        lifecycle positioned after it."""
        lines, life = lifecycle_events(seed, HISTORY_EVENTS, N_USERS, ZIPF_S,
                                       HISTORY_DUP_SHARE,
                                       HISTORY_REORDER_SHARE)
        path = os.path.join(self.engine.in_dir, "history.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        for line in lines:
            self.model.apply_line(line)
        life.dup_share = DUP_SHARE
        return life

    def send(self, user: str, kind: str, amount: int,
             bill_id: str | None = None) -> tuple[float, str | None]:
        """Send one command; returns (time it returned, new bill id)."""
        before = _dates()
        ts = format_ts(datetime.now(timezone.utc))
        new_bill = None
        with self.tracer.span("engine.emit"):
            if kind == "purchase":
                self.engine.purchase(user, amount)
            elif kind == "bill":
                new_bill = self.engine.create_bill(promise_id(user), user,
                                                   amount)
            else:
                self.engine.payment_completed(bill_id, user, amount)
        t_ret = time.perf_counter()
        after = _dates()
        if before != after:
            self.ambiguous.add(user)
        today = after[0].isoformat()
        if kind == "purchase":
            event = {"event_type": PURCHASE, "order_id": order_id(user),
                     "user_id": user, "amount": amount}
        elif kind == "bill":
            event = {"event_type": BILL, "bill_id": new_bill,
                     "promise_id": promise_id(user), "user_id": user,
                     "amount": amount, "issued_date": today}
        else:
            event = {"event_type": PAYMENT, "bill_id": bill_id,
                     "user_id": user, "amount": amount, "paid_date": today}
        event["ingest_ts"] = ts
        self.model.apply(event)
        self.attempted += 1
        return t_ret, new_bill

    def inputs(self) -> set[str]:
        return {f for f in os.listdir(self.engine.in_dir)
                if not f.startswith((".", "_"))}

    def process(self) -> None:
        if self.tracer.enabled:
            seen = checkpoint_seen_files(self.engine.pipeline.checkpoint)
            self.backlog.append(len(self.inputs() - seen))
        with self.tracer.span("engine.process"):
            self.engine.process()

    def read_status(self, user: str) -> tuple[float, float, bool]:
        """Read and check one user's status; returns (start, end, ok)."""
        t0 = time.perf_counter()
        ok = False
        try:
            with self.tracer.span("engine.status_plan"):
                p, b = self.engine.user_status(user)
            with self.tracer.span("engine.status_collect"):
                p_rows = [(r.order_id, r.amount, r.due_date, r.payment_mode)
                          for r in p.collect()]
                b_rows = [(r.id, r.amount, r.status, r.issued_date,
                           r.paid_date) for r in b.collect()]
            t1 = time.perf_counter()
            want_p, want_b = self.model.user_status(user)
            p_dates, b_dates = ((2,), (3, 4)) if user in self.ambiguous \
                else ((), ())
            ok = (_drop_dates(p_rows, p_dates) == _drop_dates(want_p, p_dates)
                  and _drop_dates(b_rows, b_dates)
                  == _drop_dates(want_b, b_dates))
        except Exception as exc:  # a failed read is counted, not fatal
            t1 = time.perf_counter()
            print(f"perfbench: status read for {user} failed: {exc!r}",
                  file=sys.stderr)
        self.attempted += 1
        self.failed += not ok
        return t0, t1, ok

    def check_tables(self) -> int:
        """Compare both whole projections with the model; returns rows."""
        pipe = self.engine.pipeline
        iso = lambda d: d.isoformat() if d is not None else None  # noqa: E731
        with self.tracer.span("pipeline.promises"):
            promises = [(r.id, r.order_id, r.user_id, r.amount, iso(r.due_date),
                         r.payment_mode) for r in pipe.promises().collect()]
        with self.tracer.span("pipeline.bills"):
            bills = [(r.id, r.promise_id, r.user_id, r.amount, r.status,
                      iso(r.issued_date), iso(r.paid_date))
                     for r in pipe.bills().collect()]
        relax = bool(self.ambiguous)
        for got, want, dates in ((promises, self.model.promises(), (4,)),
                                 (bills, self.model.bills(), (5, 6))):
            idx = dates if relax else ()
            self.attempted += 1
            self.failed += _drop_dates(got, idx) != _drop_dates(want, idx)
        return len(promises) + len(bills)


def _warmup(client: Client, life: Lifecycle) -> None:
    """Process the staged history and read the busiest user's status."""
    client.process()
    client.read_status(life.users.ids[0])


def run(host, run_dir, seed: int, seconds: float, tracer: Tracer) -> dict:
    setup, builds, warmups = [], [], []
    client = None
    prior_attempted = prior_failed = 0
    for k in range(SETUP_REPS):
        if client is not None:
            prior_attempted += client.attempted
            prior_failed += client.failed
        t0 = time.perf_counter()
        spark = host.start() if k == 0 else host.restart()
        t1 = time.perf_counter()
        client = Client(spark, run_dir.sub("data", f"oltp{k}"), tracer)
        life = client.stage_history(seed)
        _warmup(client, life)
        t2 = time.perf_counter()
        setup.append(t2 - t0)
        builds.append(t1 - t0)
        warmups.append(t2 - t1)
    spark = host.spark
    collector = notified = None
    if tracer.enabled:
        from event_streaming_bnpl_demo_spark.streaming.notify import \
            notify_on_update

        collector = ProgressCollector()
        spark.streams.addListener(collector)
        notified = []
        notify_on_update(spark, lambda info: notified.append(
            (info["query_id"], info["batch_id"], time.time() * 1e3)))

    visible, reads = [], []
    n_cmds = n_process = 0
    inputs_before = client.inputs()
    wall0 = time.time() * 1e3
    t_start = time.perf_counter()
    while n_process < MIN_ROUNDS or time.perf_counter() - t_start < seconds:
        returned: dict[str, list[float]] = {}
        for user in life.users.draw_distinct(life.rng, BURST):
            step = life.next_step(user)
            t_ret, bill = client.send(user, step.kind, step.amount,
                                      step.bill_id)
            life.record(step, bill)
            returned.setdefault(user, []).append(t_ret)
            n_cmds += 1
        client.process()
        n_process += 1
        for user, rets in returned.items():
            t0, t1, ok = client.read_status(user)
            reads.append(t1 - t0)
            for t_ret in rets:
                if ok:
                    visible.append(t1 - t_ret)
                else:
                    client.failed += 1
    t_end = time.perf_counter()
    wall1 = time.time() * 1e3
    elapsed = t_end - t_start

    e2e = {
        "setup_s": median(setup),
        "latency_p50_s": median(visible),
        "read_p50_s": median(reads),
        "ops_per_s": n_cmds / elapsed,
    }
    named = {
        "cmd_visible_p50_s": e2e["latency_p50_s"],
        "cmd_visible_p90_s": quantile(visible, 0.9),
        "status_query_p50_s": e2e["read_p50_s"],
        "status_query_p90_s": quantile(reads, 0.9),
        "commands_per_s": e2e["ops_per_s"],
    }
    new_files = len(client.inputs() - inputs_before)
    projection_rows = client.check_tables()
    layers = {}
    if tracer.enabled:
        layers = _layers(client, collector, notified, tracer, t_start, wall0,
                         wall1, n_cmds, n_process, new_files, builds,
                         warmups, projection_rows)
    return {"e2e": e2e, "named_metrics": named, "layers": layers,
            "attempted": prior_attempted + client.attempted,
            "failed": prior_failed + client.failed,
            "window_ms": (wall0, wall1),
            "samples": {"commands": n_cmds, "status_reads": len(reads),
                        "rounds": n_process, "elapsed_s": elapsed}}


def _layers(client, collector, notified, tracer, t_start, wall0, wall1,
            n_cmds, n_process, new_files, builds, warmups,
            projection_rows) -> dict:
    pipe = client.engine.pipeline
    batches = collector.in_window(wall0, wall1)
    dur = lambda key: [b["duration_ms"].get(key, 0) for b in batches]  # noqa: E731
    files = checkpoint_files_per_batch(pipe.checkpoint,
                                       [b["batch_id"] for b in batches])
    done = {(b["query_id"], b["batch_id"]):
            b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)
            for b in batches}
    delays = [at - done[(q, bid)] for q, bid, at in notified
              if (q, bid) in done]
    archive = glob.glob(os.path.join(pipe.log_dir, "**", "*.parquet"),
                        recursive=True)
    return {
        "session.build_s": median(builds),
        "session.warmup_s": median(warmups),
        "engine.emit_s": median(tracer.durations("engine.emit", t_start)),
        "engine.process_s": median(tracer.durations("engine.process", t_start)),
        "engine.status_plan_s": median(
            tracer.durations("engine.status_plan", t_start)),
        "engine.status_collect_s": median(
            tracer.durations("engine.status_collect", t_start)),
        "sources.latest_offset_ms": median(dur("latestOffset")),
        "sources.get_batch_ms": median(dur("getBatch")),
        "sources.files_per_batch": (sum(files) / len(files)) if files else 0.0,
        "sources.rows_per_batch": (sum(b["rows"] for b in batches)
                                   / len(batches)) if batches else 0.0,
        "pipeline.batches_per_process": len(batches) / n_process,
        "pipeline.overhead_ms": median(
            b["duration_ms"].get("triggerExecution", 0)
            - b["duration_ms"].get("addBatch", 0) for b in batches),
        "pipeline.trigger_ms": median(dur("triggerExecution")),
        "pipeline.add_batch_ms": median(dur("addBatch")),
        "pipeline.query_planning_ms": median(dur("queryPlanning")),
        "pipeline.wal_commit_ms": median(dur("walCommit")),
        "pipeline.commit_ms": median(dur("commit")),
        "pipeline.backlog_files": median(client.backlog[-n_process:]),
        "sink.archive_files": len(archive),
        "sink.archive_bytes": sum(os.path.getsize(p) for p in archive),
        "sink.projection_rows": projection_rows,
        "notify.delay_ms": median(delays),
        "generator.events": n_cmds,
        "generator.files": new_files,
        "_batches": len(batches),
        "_events": n_cmds,
    }
