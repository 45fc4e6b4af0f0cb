"""``catalog_mix``: one closed-loop client running a fixed read-only mix
of catalog queries over seeded tables, each result checked by row count
and order-insensitive hash against the DuckDB result of the query's
oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import sys
import time

from perfbench import tables
from perfbench.tracing import Tracer, median, patch_module_function

#: One query per catalog family: scan-aggregate, window, top-k, vector
#: search, the streaming as-of join (the one query of the family list
#: that runs ``streaming.asof_state``), the batch as-of join (which runs
#: ``operators.asof``) and the BNPL reference state. The TPC-H joins (q5,
#: q8, q18), LSH dedup, text statistics, streaming view maintenance and
#: PageRank are left out to fit the run-time budget: the streaming as-of
#: join alone takes about 8 s warm and 11 s after a session restart,
#: where it re-stages; PageRank would add 8 s cold and 4 s warm, the
#: batch as-of join adds 2 s cold and under 1 s warm.
MIX = (
    "q1_pricing_summary", "window_running_total", "topk_per_group",
    "llm_simsearch_topk", "stream_asof_join", "join_asof",
    "ref_lastwin_state",
)
#: tables at a hundredth of TPC-H scale (60k lineitem rows), a tenth of
#: the sf0.1 test data, to fit the run-time budget: on a 4-core host a
#: pass over the mix with PageRank in place of the batch as-of join took
#: about 33 s cold and 14-15 s warm at this scale, 61 s and 22-24 s at
#: sf0.1
SCALE = 0.01
#: the queries of the mix that write content-keyed inputs under the temp
#: dir as they plan (the as-of join's reshard of ``events``)
STAGING = ("stream_asof_join",)
#: set-ups per run: the first launches the JVM and stages; the second
#: restarts the session, stages again and runs the whole mix once, so
#: every query has run in the timed session. More do not fit the
#: run-time budget
SETUP_REPS = 2


def _norm(v) -> str:
    """Engine-neutral value text, so Spark and DuckDB rows hash alike."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 of the sorted rows with columns in name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    norm = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return len(norm), h.hexdigest()


def arrow_digest(table) -> tuple[int, str]:
    return digest(table.column_names,
                  list(zip(*(c.to_pylist() for c in table.columns))))


def oracle_digests(sf_dir: str, catalog) -> dict[str, tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
        out = {}
        for q in MIX:
            cur = con.execute(catalog[q].oracle)
            out[q] = digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


class Runner:
    """Runs catalog queries, checking each result against the oracle."""

    def __init__(self, catalog, sf_dir: str, oracle: dict, tracer: Tracer):
        self.catalog = catalog
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def query(self, spark, name: str) -> tuple[float, float]:
        """Run one query; returns (build seconds, action seconds)."""
        t0 = time.perf_counter()
        ok = False
        t1 = t2 = t0
        try:
            with self.tracer.span(f"plans.{name}"):
                with self.tracer.span("plans.build"):
                    df = self.catalog[name].fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                with self.tracer.span("plans.exec"):
                    result = df.toArrow()
                t2 = time.perf_counter()
            ok = arrow_digest(result) == self.oracle[name]
        except Exception as exc:  # a failed query is counted, not fatal
            t2 = time.perf_counter()
            print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
        self.attempted += 1
        self.failed += not ok
        return t1 - t0, t2 - t1


def run(host, run_dir, seed: int, seconds: float, tracer: Tracer) -> dict:
    from event_streaming_bnpl_demo_spark.plans import all_queries

    sf_dir, n_rows = tables.write_tables(run_dir.sub("data", "tables"), seed,
                                         SCALE)
    catalog = all_queries()
    runner = Runner(catalog, sf_dir, oracle_digests(sf_dir, catalog), tracer)

    setup, builds, warmups = [], [], []
    staged = []   # entries each set-up staged: equal when STAGING is whole
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = host.start() if k == 0 else host.restart()
        t1 = time.perf_counter()
        # a fresh staging directory, so each set-up writes the
        # content-keyed inputs again
        stage_dir = run_dir.fresh_tempdir(f"stage{k}")
        for name in (MIX if k == SETUP_REPS - 1 else STAGING):
            runner.query(spark, name)
        t2 = time.perf_counter()
        setup.append(t2 - t0)
        builds.append(t1 - t0)
        warmups.append(t2 - t1)
        staged.append(len(os.listdir(stage_dir)))
    if len(set(staged)) > 1:
        print(f"perfbench: set-ups staged {staged} entries; a query outside "
              f"STAGING stages inputs", file=sys.stderr)
    if tracer.enabled:
        patch_module_function(tracer, "event_streaming_bnpl_demo_spark",
                              "load_table", "sources.load_table")

    walls: dict[str, list[float]] = {q: [] for q in MIX}
    execs: list[float] = []
    builds_q: list[float] = []
    passes: list[tuple[float, float]] = []   # (wall, summed collects)
    wall0 = time.time() * 1e3
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        t_pass = time.perf_counter()
        collect_s = 0.0
        for name in MIX:
            b, e = runner.query(spark, name)
            walls[name].append(b + e)
            builds_q.append(b)
            execs.append(e)
            collect_s += e
        passes.append((time.perf_counter() - t_pass, collect_s))
    elapsed = time.perf_counter() - t_start
    wall1 = time.time() * 1e3

    every = [w for ws in walls.values() for w in ws]
    e2e = {
        "setup_s": median(setup),
        "latency_p50_s": median(p[0] for p in passes),
        "read_p50_s": median(p[1] for p in passes),
        "ops_per_s": len(every) / elapsed,
    }
    named = {
        "catalog_pass_s": e2e["latency_p50_s"],
        "catalog_query_p50_s": median(every),
    }
    layers = {}
    if tracer.enabled:
        layers = {
            "session.build_s": median(builds),
            "session.warmup_s": median(warmups),
            "plans.build_s": median(builds_q),
            "plans.exec_s": median(execs),
            "sources.load_table_ms": 1e3 * median(
                tracer.durations("sources.load_table", t_start)),
            **{f"plans.{q}_s": median(ws) for q, ws in walls.items()},
            "generator.events": n_rows,
            "generator.files": len(os.listdir(sf_dir)),
        }
    return {"e2e": e2e, "named_metrics": named, "layers": layers,
            "attempted": runner.attempted, "failed": runner.failed,
            "window_ms": (wall0, wall1),
            "samples": {"queries": len(every), "passes": len(passes),
                        "elapsed_s": elapsed, "staged_entries": staged}}
