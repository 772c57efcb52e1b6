"""Benchmark of the spark-graft engine: one command per workload and seed.

    python3 perfbench/run.py --workload llm_docs --seed 1 --seconds 4 --trace 0

Builds the workload's inputs from the seed (``gen.py``, cached under
``.perfbench/inputs``), then starts the engine client (``client.py``) as
a child process: one closed-loop client on a ``local[<cores>]`` session.
Set-up is timed from the child's process start to its ``READY`` line.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced phase. Human-readable lines come first; the
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The full record of the
run (per-query timings, checks, input manifest, spans and per-layer detail)
is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: A run must end within 180 s; the client is stopped before that.
RUN_LIMIT_S = 170.0

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.input_records": "count",
    "sources.scan_s": "s",
    "queries.build_s": "s",
    "queries.nonjob_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.execute_s": "s",
    "queries.task_run_s": "s",
    "queries.task_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.deser_s": "s",
    "queries.slot_util": "1",
    "queries.shuffle_write_bytes": "bytes",
    "queries.shuffle_read_bytes": "bytes",
    "queries.fetch_wait_s": "s",
    "queries.spill_bytes": "bytes",
    "queries.output_rows": "count",
    "queries.cached_bytes": "bytes",
    "operators.py_start_s": "s",
    "operators.py_init_s": "s",
    "operators.py_run_s": "s",
    "operators.py_bytes_sent": "bytes",
    "operators.py_bytes_returned": "bytes",
    "operators.minhash_rows_per_s": "rows/s",
    "operators.simhash_rows_per_s": "rows/s",
    "functions.lemma_tokens_per_s": "tokens/s",
    "streaming.batches": "count",
    "streaming.no_data_batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.dropped_by_watermark": "count",
    "tracing_overhead_s": "s",
}


def tail(values: list[float]) -> tuple[int, float]:
    """Highest whole percentile of ``values`` with at least ten samples
    beyond it (nearest rank), and its value; the median below 20 samples."""
    xs = sorted(values)
    if len(xs) < 20:
        return 50, statistics.median(xs)
    p = (100 * (len(xs) - 10)) // len(xs)
    return p, xs[math.ceil(p * len(xs) / 100) - 1]


def launch(args, table_dir: str, deadline: float, out: str):
    """Run the client; return (set-up seconds, exit code). The client's
    process group is stopped and reaped before returning."""
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--table-dir", table_dir, "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
    ]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    setup = None
    try:
        for line in proc.stdout:
            if line.startswith("READY"):
                setup = time.perf_counter() - t0
                break
        proc.stdout.read()
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        _stop_group(proc)
    return setup, code


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the client's group (the JVM and Python
    workers included) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + 5
        while time.monotonic() < end:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    proc.wait()


def end_to_end(res: dict, setup: float) -> tuple[dict, dict]:
    warm_runs = [r for p in res["warm"] for r in p["runs"] if r["ok"]]
    lat = [r["s"] for r in warm_runs]
    p_tail, v_tail = tail(lat)
    rates = [r["events_per_s"] for r in warm_runs if "events_per_s" in r]
    metrics = {
        "setup_s": setup,
        "cold_pass_s": res["cold"]["s"],
        "pass_s": statistics.median(p["s"] for p in res["warm"]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": v_tail,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    info = {
        "samples": {
            "setup_s": 1,
            "cold_pass_s": 1,
            "pass_s": len(res["warm"]),
            "query_p50_s": len(lat),
            "query_tail_s": len(lat),
        },
        "query_tail_percentile": p_tail,
    }
    if rates:
        info["stream_events_per_s"] = {"value": statistics.median(rates), "unit": "events/s", "samples": len(rates)}
    return metrics, info


def per_layer(res: dict, cores: int) -> tuple[dict, dict]:
    """Medians over the traced passes of each per-pass sum, plus per-query
    medians for the profile."""
    pass_sums, per_query = [], {}
    for p in res["traced"]:
        sums: dict[str, float] = {}
        for run in p["runs"]:
            for k, v in run["layers"].items():
                sums[k] = sums.get(k, 0) + v
                per_query.setdefault(run["query"], {}).setdefault(k, []).append(v)
        job_s = sums.pop("queries.job_s")
        sums["queries.slot_util"] = sums["queries.task_run_s"] / (job_s * cores) if job_s else 0.0
        pass_sums.append(sums)
    metrics = {k: statistics.median(s[k] for s in pass_sums) for k in pass_sums[0]}
    metrics["session.start_s"] = res["session"]["start_s"]
    metrics["session.warm_s"] = res["session"]["warm_s"]
    metrics.update(res["kernels"])
    traced_pass = statistics.median(p["s"] for p in res["traced"])
    metrics["tracing_overhead_s"] = traced_pass - statistics.median(p["s"] for p in res["warm"])
    detail = {q: {k: statistics.median(v) for k, v in m.items()} for q, m in per_query.items()}
    return metrics, {"passes": pass_sums, "per_query": detail, "traced_passes": len(pass_sums)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine checkout at {ROOT}: __spark_entry__.py is missing", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import gen

    if args.workload not in gen.SIZES:
        print(f"unknown workload {args.workload!r}; choose from {sorted(gen.SIZES)}", file=sys.stderr)
        return 2
    table_dir, manifest = gen.ensure_inputs(args.workload, args.seed)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    setup, code = launch(args, table_dir, deadline, out)
    if code != 0 or setup is None or not os.path.exists(out):
        print(f"engine client failed with exit code {code}", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)

    bad = {q: why for q, why in res["checks"].items() if why}
    runs = [r for p in [res["cold"], *res["warm"], *res.get("traced", [])] for r in p["runs"]]
    attempted = len(runs)
    failed = sum(1 for r in runs if not r["ok"] or r["query"] in bad)
    correct = not bad and not res["errors"] and all(
        res["table_rows"][t] == manifest["tables"][t]["rows"] for t in manifest["tables"]
    )
    e2e, info = end_to_end(res, setup)
    print(f"workload {args.workload} seed {args.seed} inputs {json.dumps(manifest['tables'])}")
    for name, why in sorted({**bad, **res["errors"]}.items()):
        print(f"FAIL {name}: {why.strip().splitlines()[-1]}")
    print(f"failed_ratio {failed / attempted:.4f} (1) failed={failed} attempted={attempted}")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {E2E_UNITS[k]} samples={info['samples'].get(k, 1)}")
    print(f"query_tail_percentile p{info['query_tail_percentile']}")
    if "stream_events_per_s" in info:
        s = info["stream_events_per_s"]
        print(f"stream_events_per_s {s['value']:.6g} events/s samples={s['samples']}")

    record = {"args": vars(args), "manifest": manifest, "e2e": e2e, "info": info, "raw": res}
    if args.trace:
        metrics, detail = per_layer(res, os.cpu_count() or 1)
        record["layers"] = metrics
        record["layer_detail"] = detail
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {LAYER_UNITS[k]}")
    else:
        metrics = e2e
    with open(out, "w") as f:
        json.dump(record, f)
    print(f"record {os.path.relpath(out, ROOT)}")
    # The result line carries the metrics BENCHMARK.json declares for
    # this mode; every other figure is in the lines above and the record.
    declared = spec["per_layer" if args.trace else "end_to_end"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
