"""Capture `.explain("formatted")` output for named queries into
plans/<outdir>/<query>_<tag>.txt (judge-checkable plan evidence).

Usage:
    python tools/capture_plans.py <tag> <outdir> [query ...]

With no query names, captures every registered query. Uses sf0.01 (same
SF as the r21 plan dumps) so before/after files stay comparable.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    tag = sys.argv[1]
    outdir = sys.argv[2]
    names = sys.argv[3:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sys.path.insert(0, repo)
    import __spark_entry__ as mod
    from social_media_big_data_analyzer_spark.session import local_session

    spark = local_session(8)

    qmap = mod.queries()
    if not names:
        names = list(qmap)
    os.makedirs(os.path.join(repo, "plans", outdir), exist_ok=True)
    for name in names:
        df = qmap[name](spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(repo, "plans", outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
