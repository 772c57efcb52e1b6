"""Engine side of the benchmark: one closed-loop client on a local[N]
session built the way bench.py builds it.

Started by ``run.py``; prints ``READY`` once set-up is done (session built
and configured, query registry imported, bench.py's warm query run). Then
it runs a cold pass, then warm passes for ``--seconds``, then (``--trace
1``) traced warm passes, then the output checks, and writes its raw
measurements as JSON to ``--out``. A traced run has the Spark event log on
from launch; only its traced passes carry spans and the streaming
listener.

Each query execution is the query-function call plus a noop-sink write,
with ``clear_caches()`` before it, as bench.py times it.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib.util
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Driver memory of the benchmark's session. bench.py asks for 100g; the
#: benchmark keeps the JVM heap bounded so peak RSS is a property of the
#: engine, not of how lazily the collector returns memory.
DRIVER_MEMORY = "2g"

WORKLOAD_QUERIES = {
    "llm_docs": {
        "clean_tokens_freq", "doc_word_stats", "lang_id_heuristic", "doc_quality",
        "token_count", "doc_fingerprint", "lemma_freq", "tfidf_topterms",
        "ingest_tagged_records", "word_freq_topk", "dedup_docs", "ngram_jaccard_pairs",
        "minhash_near_dups", "simhash_near_dups", "cosine_topk", "ann_lsh_topk",
        "binary_meta", "chunk_udtf",
    },
    "events_stream": {
        "streaming_tumbling_counts", "streaming_dedup_counts", "events_json_daily",
        "tumbling_events_hourly", "sliding_events", "session_events",
        "asof_click_attribution", "json_map_funcs", "approx_distinct_users",
    },
}
STREAMING = {"streaming_tumbling_counts", "streaming_dedup_counts"}
#: Warm passes a run makes at least. A pass of either workload takes more
#: than 4 s (5-12 s on 4 cores), so with a 4 s window a run makes exactly
#: this many passes on a fast or a twice-as-slow host, and the latency pool
#: of every run has the same size.
MIN_PASSES = {"llm_docs": 2, "events_stream": 2}


def build_session(cores: int, tmp: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{event_log}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.logBlockUpdates.enabled", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak resident memory of this process and all its descendants (JVM,
    Python workers), sampled from /proc. Each process counts its
    proportional set size, so pages shared after a fork (forked Python
    workers, helper processes the JVM starts) are counted once."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.peak_detail: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_pss_kb(root: int) -> dict[str, int]:
        """Resident kB per process name over ``root`` and its descendants."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out: dict[str, int] = {}
        todo = [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next((int(line.split()[1]) for line in f if line.startswith("Pss:")), 0)
            except OSError:
                continue
            out[name] = out.get(name, 0) + pss
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            detail = self.tree_pss_kb(os.getpid())
            total = sum(detail.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_detail = total, detail
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Runner:
    """Runs the workload's queries in a fixed order, one at a time."""

    def __init__(self, spark, entry, table_dir: str, names: list[str], events: int) -> None:
        import social_media_big_data_analyzer_spark as engine

        self.spark = spark
        self.engine = engine
        self.fns = entry.queries()
        self.table_dir = table_dir
        self.names = names
        self.events = events
        self.spans = None
        self.listener = None
        self.streams_run = 0
        self.errors: dict[str, str] = {}
        self.collected: dict[str, tuple[list[str], list]] = {}

    def _span(self, name: str, **attrs):
        if self.spans is None:
            return contextlib.nullcontext()
        return self.spans.span(name, **attrs)

    def run_query(self, name: str, pass_no: int, collect: bool = False) -> dict:
        """One execution: ``clear_caches()``, the query-function call, then
        the noop-sink write (or, with ``collect``, fetching the rows to the
        driver, which keeps them for the output checks)."""
        fn = self.fns[name]
        rec = {"query": name, "pass": pass_no, "ok": True}
        self.engine.clear_caches()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with self._span("query", query=name, pass_no=pass_no) as idx:
                rec["span"] = idx
                step = "streaming.run" if name in STREAMING else "queries.build"
                with self._span(step):
                    df = fn(self.spark, self.table_dir)
                t1 = time.perf_counter()
                with self._span("queries.execute"):
                    if collect:
                        self.collected[name] = (df.columns, df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failed query is counted, the loop goes on
            rec["ok"] = False
            self.errors.setdefault(name, traceback.format_exc(limit=3))
            t1 = time.perf_counter()
        rec["s"] = time.perf_counter() - t0
        rec["end"] = time.time()
        if name in STREAMING and rec["ok"]:
            rec["events_per_s"] = self.events / (t1 - t0)
        if self.listener is not None:
            if name in STREAMING and rec["ok"]:
                self.streams_run += 1
                rec["progress"] = self.listener.drain(self.streams_run)
            else:
                rec["progress"] = []
        return rec

    def run_pass(self, pass_no: int, collect: bool = False) -> dict:
        t0 = time.perf_counter()
        runs = [self.run_query(n, pass_no, collect) for n in self.names]
        return {"s": time.perf_counter() - t0, "runs": runs}

    def run_for(self, seconds: float, first_pass: int, min_passes: int) -> list[dict]:
        """Warm passes until ``seconds`` have elapsed and at least
        ``min_passes`` are done; a started pass is always finished."""
        deadline = time.perf_counter() + seconds
        passes = [self.run_pass(first_pass)]
        while time.perf_counter() < deadline or len(passes) < min_passes:
            passes.append(self.run_pass(first_pass + len(passes)))
        return passes


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_phase(runner: Runner, seconds: float, min_passes: int):
    """Register the streaming listener and the loader spans, then run warm
    passes for ``seconds`` again. The event log has been on since launch."""
    import tracing

    listener = tracing.StreamProgress()
    runner.spark.streams.addListener(listener)
    spans = tracing.Spans()
    runner.listener, runner.spans = listener, spans
    with tracing.wrapped_loader(spans):
        passes = runner.run_for(seconds, 1, min_passes)
    runner.listener = runner.spans = None
    runner.spark.streams.removeListener(listener)
    return spans, passes


def main() -> int:
    ap = argparse.ArgumentParser(description="benchmark engine client")
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_QUERIES))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers started by the JVM must import the engine package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    cores = os.cpu_count() or 1

    # Event-log confs are static, so a traced run sets them at launch.
    event_dir = os.path.join(work, "eventlog", str(os.getpid())) if args.trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)

    t0 = time.perf_counter()
    entry = load_entry()
    from social_media_big_data_analyzer_spark import session as engine_session
    from social_media_big_data_analyzer_spark.queries import REGISTRY  # noqa: F401 (registers cache clearers)

    spark = build_session(cores, tmp, event_log=event_dir)
    engine_session.configure(spark)
    t1 = time.perf_counter()
    force(entry.q_revenue_by_flag(spark, args.table_dir))
    t2 = time.perf_counter()
    print("READY", flush=True)
    result = {"session": {"start_s": t1 - t0, "warm_s": t2 - t1}}

    names = [n for n in entry.queries() if n in WORKLOAD_QUERIES[args.workload]]
    with open(os.path.join(args.table_dir, "manifest.json")) as f:
        events = json.load(f)["tables"].get("events", {}).get("rows", 0)
    runner = Runner(spark, entry, args.table_dir, names, events)
    phases = {"setup": t2 - t0}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    # The cold pass fetches every result, as a one-shot user would; those
    # rows are what the output checks compare.
    result["cold"] = runner.run_pass(0, collect=True)
    phase("cold")
    if args.trace:
        # One unrecorded pass, so that the untraced passes a traced run
        # compares against are as warm as the traced ones that follow.
        runner.run_pass(0)
    with RssSampler() as rss:
        result["warm"] = runner.run_for(args.seconds, 1, MIN_PASSES[args.workload])
    result["peak_rss_mb"] = rss.peak_kb / 1024.0
    result["peak_rss_kb_by_process"] = rss.peak_detail
    phase("warm")

    if args.trace:
        spans, traced = traced_phase(runner, args.seconds, MIN_PASSES[args.workload])
        result["traced"] = traced
        phase("traced")

    from checks import Checker

    checker = Checker(ROOT, spark, args.table_dir, entry.oracle_sql(), runner.collected)
    result.update(
        checks=checker.check_all(names, runner.errors),
        output_rows={n: len(rows) for n, (_, rows) in runner.collected.items()},
        table_rows=checker.table_rows(),
        errors=runner.errors,
    )
    checker.close()
    phase("checks")
    spark.stop()
    phase("stop")

    if args.trace:
        import tracing

        logs = glob.glob(os.path.join(event_dir, "*"))
        log = tracing.read_event_log(logs[0])
        shutil.rmtree(event_dir, ignore_errors=True)
        for p in traced:
            for run in p["runs"]:
                run["layers"] = tracing.query_metrics(run, log, spans, run.pop("progress"))
                run["layers"]["queries.output_rows"] = result["output_rows"].get(run["query"], 0)
        result["spans"] = spans.spans
        result["kernels"] = kernel_rates(args.seed)
        phase("trace_analysis")
    result["phases"] = phases
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def kernel_rates(seed: int) -> dict:
    """Operator kernels called in-process on a seeded document corpus:
    ``sketches.minhash_batches``/``simhash_batches`` (rows/s) and
    ``lemmatize.lemma_word`` (tokens/s). Median of three timings each."""
    import numpy as np
    import pyarrow as pa

    import gen
    from social_media_big_data_analyzer_spark.functions.lemmatize import lemma_word
    from social_media_big_data_analyzer_spark.operators.sketches import (
        SHINGLE_K,
        minhash_batches,
        simhash_batches,
    )

    docs = gen.documents_table(seed, gen.KERNEL_DOCS).column("text").to_pylist()
    tokens = [d.split(" ") for d in docs]
    vocab: dict[str, int] = {}
    hashes = []
    for toks in tokens:
        ids = np.array([vocab.setdefault(t, len(vocab)) for t in toks], dtype=np.uint64)
        with np.errstate(over="ignore"):
            h = np.zeros(len(ids) - SHINGLE_K + 1, dtype=np.uint64)
            for j in range(SHINGLE_K):
                h = h * np.uint64(0x100000001B3) + ids[j : len(ids) - SHINGLE_K + 1 + j]
        hashes.append(np.unique(h.view(np.int64)).tolist())
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(len(hashes), dtype=np.int64)), pa.array(hashes, type=pa.list_(pa.int64()))],
        ["doc_id", "hashes"],
    )
    flat = [t for toks in tokens for t in toks]

    def rate(work, n: int) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            work()
            times.append(time.perf_counter() - t0)
        return n / statistics.median(times)

    return {
        "operators.minhash_rows_per_s": rate(lambda: list(minhash_batches(iter([batch]))), batch.num_rows),
        "operators.simhash_rows_per_s": rate(lambda: list(simhash_batches(iter([batch]))), batch.num_rows),
        "functions.lemma_tokens_per_s": rate(lambda: [lemma_word(w) for w in flat], len(flat)),
    }


if __name__ == "__main__":
    sys.exit(main())
