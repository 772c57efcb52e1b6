"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR and
print ONE JSON line the driver parses.

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...},
     "query_reps": {name: {"reps": [sec, ...], "max": sec, "n": k}, ...},
     "sf": 0.1}

Methodology (r21): each query is timed REPS (3) times and the per-query
MEDIAN is reported; the total is the sum of medians. ``query_reps`` keeps
each median's repetitions, their max and their count beside it, so a
median that a stalled host pushed up shows in the JSON line itself. The
single-run harness used through r20 measured sandbox weather as much as
plan cost (totals of 6.27x / 1.24x / 1.04x / 2.16x baseline on
byte-identical code, r17-r20) — medians make the number a property of the
plan again. Every repetition computes from the parquet inputs: the dedup
module's intra-query cache is dropped before EACH repetition, so no
repetition is advantaged by work a previous one did (see
OPTIMIZATION_r21.md "Bench methodology").

The timed action stays the noop sink (spark_optimization_guide.md §1.4):
it evaluates every output column JVM-side without shipping rows anywhere.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPS = 3


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    import __spark_entry__ as mod
    import social_media_big_data_analyzer_spark as engine
    from social_media_big_data_analyzer_spark.session import local_session

    spark = local_session(cpus, driver_memory="100g")

    def force(df):
        # count() lets Catalyst prune every projected column, so pure
        # projection queries would benchmark as parquet row counts. The
        # noop sink evaluates all output columns JVM-side without shipping
        # rows to the driver.
        df.write.format("noop").mode("overwrite").save()

    # Warm the JVM/codegen paths so per-query timings measure the plan,
    # not first-run classloading.
    force(mod.q_revenue_by_flag(spark, sf_dir))

    timings: dict[str, float] = {}
    query_reps: dict[str, dict] = {}
    for name, fn in mod.queries().items():
        reps: list[float] = []
        for rep in range(REPS):
            # Drop every registered DataFrame memo: each repetition
            # computes from parquet and inherits no other's warm cache.
            engine.clear_caches()
            spark.sparkContext.setJobDescription(f"bench:{name} rep{rep}")
            t0 = time.perf_counter()
            try:
                force(fn(spark, sf_dir))
                reps.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                print(f"bench error {name} rep{rep}: {e}", file=sys.stderr)
                reps = []
                break
            finally:
                spark.sparkContext.setJobDescription(None)
        if reps:
            timings[name] = round(statistics.median(reps), 3)
            query_reps[name] = {
                "reps": [round(r, 3) for r in reps],
                "max": round(max(reps), 3),
                "n": len(reps),
            }
            print(
                f"bench {name}: reps={query_reps[name]['reps']} "
                f"median={timings[name]}",
                file=sys.stderr,
            )
        else:
            timings[name] = -1.0
            query_reps[name] = {"reps": [], "max": -1.0, "n": 0}

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_reps": query_reps,
                "sf": sf,
            }
        )
    )
    return 0 if all(t >= 0 for t in timings.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
