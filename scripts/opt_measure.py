#!/usr/bin/env python
"""Per-query optimization probe (guide §1): for each headline bench entry,
separately time Python-side plan construction vs execution (noop sink),
count the Spark jobs each invocation launches, and dump
``explain("formatted")`` to plans/<tag>/<name>_<suffix>.txt.

Unlike bench.py this is a diagnostic tool: it labels jobs per query
(guide §1.5) and reports where the wall goes so optimization targets the
right layer (driver-side plan building vs job count vs stage time).

Usage: python scripts/opt_measure.py [query ...]   (default: bench HEADLINE)
Env: OPT_SUFFIX=before|after (plan dump suffix), OPT_REPS=N (default 3),
SPARK_GRAFT_ROUND=tag (plan dump directory; default bench.ROUND_TAG)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
SUFFIX = os.environ.get("OPT_SUFFIX", "before")
REPS = int(os.environ.get("OPT_REPS", "3"))


def main() -> None:
    from bench import HEADLINE, ROUND_TAG
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted
    from limeqo_spark.session import get_spark

    names = sys.argv[1:] or HEADLINE
    spark = get_spark("opt_measure", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    sc = spark.sparkContext
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", ROUND_TAG
    )
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        rec: dict = {}
        builds: list[float] = []
        execs: list[float] = []
        jobs_per_rep: list[int] = []
        for rep in range(REPS):
            group = f"{name}#{rep}"
            sc.setJobGroup(group, f"opt_measure {name} rep{rep}")
            t0 = time.perf_counter()
            df = spec.builder(spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            jobs_per_rep.append(len(jobs))
            if rep == 0:
                try:
                    with open(os.path.join(plans_dir, f"{name}_{SUFFIX}.txt"), "w") as f:
                        f.write(explain_formatted(df))
                except Exception as exc:  # noqa: BLE001
                    print(f"!! explain failed for {name}: {exc}", file=sys.stderr)
            spark.catalog.clearCache()
            sc.setJobGroup(None, None)
        rec["build_s"] = [round(b, 3) for b in builds]
        rec["exec_s"] = [round(e, 3) for e in execs]
        rec["total_warm_s"] = round(min(b + e for b, e in zip(builds[1:], execs[1:])) if len(builds) > 1 else builds[0] + execs[0], 3)
        rec["jobs"] = jobs_per_rep
        out[name] = rec
        print(
            f"{name:38s} build={min(builds):6.3f} exec_warm={min(execs[1:] or execs):6.3f} "
            f"jobs={jobs_per_rep[-1]:3d} total_warm={rec['total_warm_s']:6.3f}",
            flush=True,
        )

    path = os.path.join(plans_dir, f"opt_measure_{SUFFIX}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
