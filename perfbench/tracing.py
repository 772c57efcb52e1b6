"""Per-layer tracing from outside the engine.

Three sources, none of which changes what a query computes:

* spans the benchmark records around its own calls into each layer
  (``Spans``): the query-function call, the noop-sink write, and every
  ``sources.catalog.load_table`` call (the loader is wrapped for the traced
  phase only);
* the Spark event log (``read_event_log``), written uncompressed and
  unrolled to a directory in the checkout;
* a ``StreamingQueryListener`` (``StreamProgress``) that keeps every
  progress event of the availableNow runs.

Spark jobs are attributed to queries by the closed-loop time window, not
by job description: streaming micro-batch jobs overwrite the description.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: SQL metrics summed from task accumulables: the Python-worker figures of
#: mapInArrow / mapInPandas / pandas UDFs, and the parquet scan time.
SQL_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "scan time": "scan_ms",
}


class Spans:
    """In-memory spans: (name, start, end, parent index). Written out with
    the profile when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def children(self, idx: int, name: str) -> list[dict]:
        """Descendant spans of span ``idx`` called ``name``."""
        out = []
        for i in range(idx + 1, len(self.spans)):
            s = self.spans[i]
            p = s["parent"]
            while p is not None and p != idx:
                p = self.spans[p]["parent"]
            if p == idx and s["name"] == name:
                out.append(s)
        return out


@contextlib.contextmanager
def wrapped_loader(spans: Spans):
    """Record a ``sources.load`` span around every ``load_table`` call.

    ``io.load_table`` imports the catalog loader at call time, so replacing
    the module attribute covers every query path."""
    from social_media_big_data_analyzer_spark.sources import catalog

    original = catalog.load_table

    def load_table(spark, sf_dir, name):
        with spans.span("sources.load", table=name):
            return original(spark, sf_dir, name)

    catalog.load_table = load_table
    try:
        yield
    finally:
        catalog.load_table = original


class StreamProgress(StreamingQueryListener):
    """Keeps the JSON of every streaming progress event, in arrival order."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._cond:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self.terminated += 1
            self._cond.notify_all()

    def drain(self, terminated: int, timeout: float = 30.0) -> list[dict]:
        """Wait until ``terminated`` queries have ended (listener events
        arrive asynchronously, after ``awaitTermination`` returns), then
        hand over and clear the progress received so far."""
        with self._cond:
            if not self._cond.wait_for(lambda: self.terminated >= terminated, timeout):
                raise TimeoutError(f"streaming listener saw {self.terminated} of {terminated} terminations")
            out, self.progress = self.progress, []
            return out


def read_event_log(path: str) -> dict:
    """Jobs, stages, tasks and cached-block sizes from an uncompressed
    JSON-lines event log. Block updates carry no timestamp; each gets the
    time of the last timestamped event before it."""
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    blocks: list[tuple[float, str, int]] = []
    now = 0.0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                now = e["Submission Time"]
                jobs[e["Job ID"]] = {"start": now, "end": None}
            elif kind == "SparkListenerJobEnd":
                now = e["Completion Time"]
                jobs[e["Job ID"]]["end"] = now
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                now = si.get("Completion Time", now)
                stages.append({"start": si.get("Submission Time", now), "tasks": si["Number of Tasks"]})
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                now = ti["Finish Time"]
                sr = tm.get("Shuffle Read Metrics", {})
                rec = {
                    "start": ti["Launch Time"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "deser_ms": tm.get("Executor Deserialize Time", 0),
                    "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "shuffle_read_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                    "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                    "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
                }
                for acc in ti.get("Accumulables", []):
                    key = SQL_METRICS.get(acc.get("Name"))
                    if key:
                        rec[key] = rec.get(key, 0) + int(acc.get("Update") or 0)
                tasks.append(rec)
            elif kind == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                if info["Block ID"].startswith("rdd_"):
                    blocks.append((now, info["Block ID"], info["Memory Size"] + info["Disk Size"]))
    job_list = sorted((j["start"], j["end"] if j["end"] is not None else j["start"]) for j in jobs.values())
    return {
        "jobs": job_list,
        "stages": sorted(stages, key=lambda s: s["start"]),
        "tasks": sorted(tasks, key=lambda t: t["start"]),
        "blocks": blocks,
    }


def _in_window(items: list[dict], lo: float, hi: float) -> list[dict]:
    starts = [i["start"] for i in items]
    return items[bisect.bisect_left(starts, lo) : bisect.bisect_right(starts, hi)]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _peak_cached(blocks: list[tuple[float, str, int]], lo: float, hi: float) -> int:
    sizes: dict[str, int] = {}
    peak = 0
    for t, block, size in blocks:
        if t > hi:
            break
        if size:
            sizes[block] = size
        else:
            sizes.pop(block, None)
        if t >= lo:
            peak = max(peak, sum(sizes.values()))
    return peak


def query_metrics(run: dict, log: dict, spans: Spans, progress: list[dict]) -> dict:
    """Per-layer figures of one query execution from its closed-loop window
    ``run`` (epoch seconds plus the index of its ``query`` span)."""
    lo, hi = run["start"] * 1000.0, run["end"] * 1000.0
    jobs = [(max(a, lo), min(b, hi)) for a, b in log["jobs"] if lo <= a <= hi]
    tasks = _in_window(log["tasks"], lo, hi)
    stages = _in_window(log["stages"], lo, hi)
    job_ms = _union_ms(jobs)
    loads = spans.children(run["span"], "sources.load")
    builds = spans.children(run["span"], "queries.build")
    writes = spans.children(run["span"], "queries.execute")

    def tsum(key: str) -> float:
        return sum(t.get(key, 0) for t in tasks)

    m = {
        "sources.load_calls": len(loads),
        "sources.load_s": sum(s["end"] - s["start"] for s in loads),
        "sources.input_records": tsum("input_records"),
        "sources.scan_s": tsum("scan_ms") / 1e3,
        "queries.build_s": sum(s["end"] - s["start"] for s in builds),
        "queries.nonjob_s": (hi - lo - job_ms) / 1e3,
        "queries.jobs": len(jobs),
        "queries.stages": len(stages),
        "queries.tasks": len(tasks),
        "queries.job_s": job_ms / 1e3,
        "queries.execute_s": sum(s["end"] - s["start"] for s in writes),
        "queries.task_run_s": tsum("run_ms") / 1e3,
        "queries.task_cpu_s": tsum("cpu_ns") / 1e9,
        "queries.gc_s": tsum("gc_ms") / 1e3,
        "queries.deser_s": tsum("deser_ms") / 1e3,
        "queries.shuffle_write_bytes": tsum("shuffle_write_bytes"),
        "queries.shuffle_read_bytes": tsum("shuffle_read_bytes"),
        "queries.fetch_wait_s": tsum("fetch_wait_ms") / 1e3,
        "queries.spill_bytes": tsum("spill_bytes"),
        "queries.cached_bytes": _peak_cached(log["blocks"], lo, hi),
        "operators.py_start_s": tsum("py_start_ms") / 1e3,
        "operators.py_init_s": tsum("py_init_ms") / 1e3,
        "operators.py_run_s": tsum("py_run_ms") / 1e3,
        "operators.py_bytes_sent": tsum("py_bytes_sent"),
        "operators.py_bytes_returned": tsum("py_bytes_returned"),
    }
    m.update(streaming_metrics(progress))
    return m


def streaming_metrics(progress: list[dict]) -> dict:
    """Sums over the micro-batches of one availableNow run; state figures
    are those after its last batch."""

    def dur(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1e3

    def ops(p: dict) -> list[dict]:
        return p.get("stateOperators", [])

    last = ops(progress[-1]) if progress else []
    return {
        "streaming.batches": len(progress),
        "streaming.no_data_batches": sum(1 for p in progress if p.get("numInputRows", 0) == 0),
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in last),
        "streaming.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in last),
        "streaming.state_commit_s": sum(o.get("commitTimeMs", 0) for p in progress for o in ops(p)) / 1e3,
        "streaming.dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for p in progress for o in ops(p)
        ),
    }


#: Counters that must repeat exactly between two traced runs of unchanged
#: code on the same seed (checked by ``diff_profiles.py``).
EXACT_COUNTERS = (
    "sources.load_calls",
    "sources.input_records",
    "queries.jobs",
    "queries.stages",
    "queries.tasks",
    "queries.output_rows",
    "operators.py_bytes_sent",
    "operators.py_bytes_returned",
    "streaming.batches",
    "streaming.no_data_batches",
    "streaming.input_rows",
    "streaming.state_rows",
    "streaming.dropped_by_watermark",
)
