#!/usr/bin/env python
"""Isolated per-query measurement harness for the optimization rounds.

Times each named query with the noop sink (guide §1.4: full computation, no
driver materialization), warm (one untimed run first), min-of-N, labeled in
the (disabled-by-default) UI via setJobDescription, and optionally dumps
``.explain('formatted')`` to a file per query. Each query's line also gives
``build_jobs``: the Spark jobs its last run's ``q.spark(...)`` launched
before execution, counted through a job group.

Usage:
  python tools/measure_queries.py q132_kcore q170_dedup_components
  python tools/measure_queries.py --plans /tmp/plans --suffix before q132_kcore
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mrcond_spark.queries import all_queries  # noqa: E402
from mrcond_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    def positive_int(v: str) -> int:
        n = int(v)
        if n < 1:  # run 0 is the untimed warm run; 0 timed runs = empty min()
            raise argparse.ArgumentTypeError("--runs must be >= 1")
        return n

    ap.add_argument("--runs", type=positive_int, default=3)
    ap.add_argument("--plans", default=None, help="directory to write explain('formatted') files")
    ap.add_argument("--suffix", default="before", help="plan file suffix (before/after)")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    spark = get_spark("measure", cpus=args.cpus, shuffle_partitions=max(args.cpus, 32))
    queries = all_queries()
    names = list(args.names)

    # warm the JVM / python workers the same way bench.py does
    queries["q54_embedding_near_dup"].spark(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    queries["q01_scan_project"].spark(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    results: dict[str, dict] = {}
    for name in names:
        q = queries[name]
        if args.plans:
            from mrcond_spark.operators import capture_preckpt_plans

            os.makedirs(args.plans, exist_ok=True)
            buf = io.StringIO()
            # localCheckpoint truncates lineage, so the top-level explain of
            # a checkpointed operator hides the exchanges below the
            # checkpoint: the tap records each materialize_once input's
            # plan during construction so the capture file shows them
            with capture_preckpt_plans() as taps:
                df = q.spark(spark, args.sf)
                with redirect_stdout(buf):
                    df.explain("formatted")
            short = name.split("_", 1)[0]
            with open(os.path.join(args.plans, f"{short}_{args.suffix}.txt"), "w") as f:
                f.write(f"# {name} — explain('formatted') at {args.sf}\n")
                f.write(buf.getvalue())
                for i, sub in enumerate(taps):
                    f.write(
                        f"\n# --- pre-checkpoint subplan {i + 1}/{len(taps)} "
                        "(materialize_once input; lineage truncated in the "
                        "main plan above) ---\n"
                    )
                    f.write(sub)
        samples = []
        sc = spark.sparkContext
        build_group = f"measure:{name}:build"
        sc.setJobDescription(f"measure:{name}")
        for i in range(args.runs + 1):  # first run is the warm run
            last = i == args.runs
            t0 = time.perf_counter()
            if last:  # count the jobs the last run's construction launches
                sc.setJobGroup(build_group, f"measure:{name}")
            df = q.spark(spark, args.sf)
            if last:
                sc.setLocalProperty("spark.jobGroup.id", None)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i > 0:
                samples.append(round(dt, 3))
        sc.setJobDescription(None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
        build_jobs = len(sc.statusTracker().getJobIdsForGroup(build_group))
        results[name] = {"min": min(samples), "samples": samples, "build_jobs": build_jobs}
        print(json.dumps({name: results[name]}), flush=True)

    print(json.dumps({"summary": {n: r["min"] for n, r in results.items()}}))


if __name__ == "__main__":
    main()
