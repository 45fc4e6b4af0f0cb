"""Tracing for the benchmark's traced run: spans recorded from outside
around calls into the package, streaming progress, and the Spark event
log. Everything stays in memory until :meth:`Tracer.dump` writes one file.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1]; 0.0 when empty."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = q * (len(values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


class Tracer:
    """Spans ``(name, start, end, parent, run_id)`` kept in memory. A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and s["start"] >= since]

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, **extra}, f, ensure_ascii=False)


def patch_module_function(tracer: Tracer, package: str, fn_name: str,
                          span_name: str) -> None:
    """Record span ``span_name`` around every call of ``package``'s
    function ``fn_name``, through each module that imported it."""
    import sys

    mods = [m for n, m in list(sys.modules.items())
            if n.startswith(package) and m is not None]
    fns = {getattr(m, fn_name) for m in mods
           if getattr(getattr(m, fn_name, None), "__module__", "")
           .startswith(package)}
    for fn in fns:
        traced = tracer.wrap(span_name, fn)
        for m in mods:
            if getattr(m, fn_name, None) is fn:
                setattr(m, fn_name, traced)


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


class ProgressCollector(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` with its arrival time."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        src = p.sources[0] if p.sources else None
        self.batches.append({
            "query_id": str(p.id), "batch_id": p.batchId,
            "start_ms": _epoch_ms(p.timestamp),
            "duration_ms": dict(p.durationMs),
            "rows": p.numInputRows,
            "source_rows": src.numInputRows if src is not None else 0,
            "received_ms": time.time() * 1e3,
        })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def in_window(self, t0_ms: float, t1_ms: float) -> list[dict]:
        return [b for b in self.batches if t0_ms <= b["start_ms"] <= t1_ms]


def checkpoint_files_per_batch(checkpoint: str, batch_ids) -> list[int]:
    """Files each batch read, from the file source's checkpoint log
    (``sources/0/<batch>``: a version line, then one JSON line per file)."""
    out = []
    for b in batch_ids:
        path = os.path.join(checkpoint, "sources", "0", str(b))
        try:
            with open(path, encoding="utf-8") as f:
                out.append(sum(1 for line in f if line.startswith("{")))
        except FileNotFoundError:
            continue
    return out


def checkpoint_seen_files(checkpoint: str) -> set[str]:
    """Names of every input file the file source has taken into a batch,
    from all entries of its ``sources/0`` log, compacted ones too."""
    seen = set()
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    seen.add(os.path.basename(json.loads(line)["path"]))
    return seen


def spark_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Counters from Spark event logs for jobs, stages and tasks that
    started within ``[t0_ms, t1_ms]`` (epoch milliseconds).
    ``executor_busy_share`` is the share of the window in which at least
    one task ran; the rest is driver-side, per-query and per-batch cost."""
    spans: list[tuple[int, int]] = []
    c = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
         "executor_cpu_s": 0.0, "gc_s": 0.0, "scheduler_delay_s": 0.0,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= e.get("Submission Time", 0) <= t1_ms:
                        c["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if t0_ms <= info.get("Submission Time", 0) <= t1_ms:
                        c["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    if not t0_ms <= info["Launch Time"] <= t1_ms:
                        continue
                    m = e.get("Task Metrics") or {}
                    c["tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    c["executor_run_s"] += run / 1e3
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    finish = info["Finish Time"]
                    spans.append((info["Launch Time"], finish))
                    if info.get("Getting Result Time", 0) > 0:
                        finish = info["Getting Result Time"]
                    delay = (finish - info["Launch Time"] - run
                             - m.get("Executor Deserialize Time", 0)
                             - m.get("Result Serialization Time", 0))
                    c["scheduler_delay_s"] += max(0, delay) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    c["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    c["output_bytes"] += m.get(
                        "Output Metrics", {}).get("Bytes Written", 0)
    busy_ms, reach = 0, t0_ms
    for start, end in sorted(spans):
        end = min(end, t1_ms)
        if end > reach:
            busy_ms += end - max(start, reach)
            reach = end
    c["executor_busy_share"] = busy_ms / (t1_ms - t0_ms)
    return c


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
