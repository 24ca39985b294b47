#!/usr/bin/env python
"""Round-16 optimization measurement harness (guide §1).

For each named query (default: the bench HEADLINE set) at
$SPARK_GRAFT_SF_DIR (default sf0.1):

- times CONSTRUCTION (the Python/py4j plan-building call) separately
  from EXECUTION (the noop-sink write, same action bench.py times);
- counts the Spark JOBS the pass triggered (statusTracker diff);
- dumps .explain("formatted") to plans/r16/<name>_before.txt (or
  _after.txt with --after) for plan-shape evidence.

--plan-only skips the timed execution (construct + explain dump only):
used to capture the _before plan of a query whose pre-optimization
runtime is minutes (fuzzy_name_pairs at 253 s) without re-paying it.

Usage: python scripts/measure_r16.py [--after] [--plan-only] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from distributed_mapreduce__spark import registry  # noqa: E402
from distributed_mapreduce__spark.session import build_session  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    suffix = "_after" if "--after" in sys.argv else "_before"
    plan_only = "--plan-only" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(REPO, "plans", "r16")
    os.makedirs(plans_dir, exist_ok=True)

    spark = build_session(app_name="measure_r16")
    sc = spark.sparkContext
    registry.load_all()
    lookup = {**registry.LOCAL_QUERIES, **registry.QUERIES}

    from bench import HEADLINE, PROFILE_TABLES  # noqa: E402

    names = args or [n for n in HEADLINE if n in lookup]

    # Same profile-sidecar setup as bench.py so front doors route from
    # metadata (zero estimation jobs), matching what the bench measures.
    if not os.environ.get("SPARK_GRAFT_PROFILE_DIR"):
        import tempfile

        from distributed_mapreduce__spark.operators.profile import save_profile
        from distributed_mapreduce__spark.sources.tables import load_table

        prof_dir = tempfile.mkdtemp(prefix="measure_profiles_")
        for table, gcols in PROFILE_TABLES.items():
            save_profile(
                load_table(spark, sf_dir, table),
                os.path.join(prof_dir, table),
                group_count_cols=gcols,
            )
        os.environ["SPARK_GRAFT_PROFILE_DIR"] = prof_dir

    def dump_plan(df, name: str) -> None:
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
            fh.write(plan)

    if plan_only:
        for name in names:
            dump_plan(lookup[name](spark, sf_dir), name)
            print(f"{name}: plan dumped ({suffix}, no execution)")
        spark.stop()
        return

    # Warm-up (JVM + parquet footers), as bench.py does.
    lookup[names[0]](spark, sf_dir).count()

    rows = []
    for name in names:
        sc.setJobDescription(f"measure:{name}")
        per_pass = []
        for p in range(3):
            jobs_before = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
            t0 = time.perf_counter()
            df = lookup[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            jobs_after = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
            per_pass.append(
                {
                    "construct": round(t1 - t0, 3),
                    "execute": round(t2 - t1, 3),
                    "total": round(t2 - t0, 3),
                    "jobs": len(jobs_after) - len(jobs_before),
                }
            )
            if p == 0:
                dump_plan(df, name)
        med = sorted(per_pass, key=lambda r: r["total"])[1]
        rows.append({"name": name, **med, "passes": per_pass})
        print(
            f"{name:36s} total={med['total']:7.3f}  construct={med['construct']:6.3f}"
            f"  execute={med['execute']:7.3f}  jobs={med['jobs']}",
            flush=True,
        )
        sc.setJobDescription(None)

    out = os.path.join(REPO, "plans", "r16", f"measure{suffix}.json")
    with open(out, "w") as fh:
        json.dump(rows, fh, indent=1)
    print("wrote", out)
    spark.stop()


if __name__ == "__main__":
    main()
