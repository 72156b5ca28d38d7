#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline|steer_live|sim_matrix \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Inputs are generated from ``--seed``
inside ``perfbench/.work/<run id>/`` and removed at exit. ``--seconds`` is
how long the timed units run: each workload repeats its unit (a warm
headline pass, a steering session, a pair of strategy runs) until their
walls add up to it, and reports medians. ``--trace 1`` runs one untraced and one
traced unit instead and reports the per-layer metrics.

End-to-end metrics (``--trace 0``), the same names on every workload:

``setup_s``       processor seconds from the start of the run until the
                  first timed operation: input generation (median of 3),
                  session start, JVM warm-up and the cold pass; output
                  checks excluded
``work_cpu_s``    processor seconds of one unit, summed over processors:
                  the summed median of the headline entries | the steering
                  session (bootstrap + explore) | both strategy runs
``phase1_cpu_s``  headline: relational entries | steering: bootstrap |
                  sim: LimeQO
``phase2_cpu_s``  headline: pipeline and streaming entries | steering:
                  explore rounds | sim: LimeQO+

``peak_rss_mb`` (Python ``ru_maxrss`` plus the JVM's ``VmHWM``) is printed
and recorded but not in the JSON: on the headline workload it moved by a
quarter between runs of the same code, with how much of its fixed heap the
JVM's collector happened to touch.

The time metrics are processor time, not wall time: on a shared virtual
machine the hypervisor takes processors away for seconds at a time (steal),
which moves the wall of a unit by up to a third between runs of the same
code, and steal is not processor time of this machine. The walls are
still measured and printed, under the names below, and kept in the record
with the run's steal time.

On sim_matrix they are calibrated: each strategy run's processor time, as
the Python process's own, is divided by the mean processor time of a fixed
reference kernel just before and just after it, and multiplied by the
kernel's time on the reference host (``perfbench/calib.py``); set-up by
three kernel calls right after it. There the same single-threaded NumPy
work took up to 70% more processor time from one minute to the next on a
shared host. The kernel's samples are kept in the record;
``sim_setup_cpu_s`` and ``sim_cpu_s`` print the uncalibrated times.

Human-readable lines come first (every metric under its workload-specific
name, e.g. ``headline_sql_s``, ``steer_bootstrap_s``, ``sim_limeqo_ratio``,
plus the host record); the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Each run appends its full record
to ``perfbench/records/<series>/<workload>.jsonl`` (series = core count
and ``local[N]``). Counts that must repeat exactly (jobs, stages and tasks
per headline entry; EXPLAIN calls and distinct plans of a traced steering
session; both sim ratios) are compared with every earlier record of the
same series, code and seed, and any drift fails the run. The exit code is
0 only when every output check passed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "work_cpu_s": "s",
    "phase1_cpu_s": "s",
    "phase2_cpu_s": "s",
}

LAYER_UNITS = {
    "build.s": "s",
    "build.calls": "count",
    "io.s": "s",
    "io.table_calls": "count",
    "io.read_parquet_calls": "count",
    "io.plan_cache_hit_ratio": "ratio",
    "hints.s": "s",
    "hints.applied_calls": "count",
    "plans.s": "s",
    "plans.explain_s": "s",
    "plans.explain_calls": "count",
    "plans.hash_s": "s",
    "plans.hash_calls": "count",
    "plans.distinct_hashes": "count",
    "exec.s": "s",
    "exec.calls": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "steer.s": "s",
    "steer.run_steered_s": "s",
    "steer.run_steered_calls": "count",
    "steer.censored": "count",
    "steer.cancel_overhead_s": "s",
    "live.s": "s",
    "live.measured_cells": "count",
    "live.inherited_cells": "count",
    "live.inherit_ratio": "ratio",
    "live.censored_frac": "ratio",
    "complete.s": "s",
    "complete.fit_s": "s",
    "complete.fit_calls": "count",
    "strategies.s": "s",
    "strategies.select_s": "s",
    "strategies.rounds": "count",
    "strategies.reveal_calls": "count",
    "strategies.censored_frac": "ratio",
    "strategies.limeqo_ratio": "ratio",
    "strategies.limeqo_plus_ratio": "ratio",
    "trace.root_s": "s",
    "trace.check_s": "s",
    "trace.uncovered_s": "s",
    "trace.uncovered_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

NAMED_UNITS = {
    "setup_wall_s": "s",
    "headline_s": "s",
    "headline_sql_s": "s",
    "headline_pipeline_s": "s",
    "steer_session_s": "s",
    "steer_bootstrap_s": "s",
    "steer_explore_s": "s",
    "sim_s": "s",
    "sim_setup_cpu_s": "s",
    "sim_cpu_s": "s",
    "sim_limeqo_ratio": "ratio",
    "sim_limeqo_plus_ratio": "ratio",
}


def _isolate(work: str) -> None:
    """Keep every file the run writes (temp files, Spark local dirs) inside
    its work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher too): temp files in the work directory and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _drift(run, record: dict, prior: list[dict]) -> None:
    """Fail the run when an exact count differs from an earlier run of the
    same engine code, benchmark code, seed and processor model."""
    keys = ("seed", "source_digest", "bench_digest", "cpu_model", "pyspark")
    same = [p for p in prior if all(p.get(k) == record[k] for k in keys)]
    for key, value in record["exact"].items():
        seen = {json.dumps(p["exact"][key]) for p in same if key in p.get("exact", {})}
        for other in seen - {json.dumps(value)}:
            run.op(False, f"exact count drift: {key} = {json.dumps(value)}, earlier run {other}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "limeqo_spark", "__init__.py")):
        print(f"perfbench: no limeqo_spark package under {ROOT}", file=sys.stderr)
        return 2
    # one BLAS thread, set before NumPy loads: idle OpenBLAS threads spin,
    # and on a shared host the spinning moved the processor time of the
    # sim track's solver by a quarter between runs
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS, Run, shutdown_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(HERE, ".work", run_id)
    _isolate(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, T0)
    try:
        n = host.nproc()
        record = host.host_record(args.seed, n, args.workload, bool(args.trace))
        record["bench_digest"] = host.source_digest(HERE)
        record["run_id"] = run_id
        result = WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)

    record["loadavg_end"] = list(os.getloadavg())
    record["cpu_steal_s"] = host.cpu_steal_s() - record["cpu_steal_start_s"]
    record["exact"] = result["exact"]
    _drift(run, record, host.prior_records(record["series"], args.workload))
    failed = len(run.failures)
    e2e = {k: result[k] for k in E2E_UNITS}
    layers = {k: float(result["layers"].get(k, 0.0)) for k in LAYER_UNITS}
    record.update(
        {
            "units": result["units"],
            "e2e": e2e,
            "peak_rss_mb": result["peak_rss_mb"],
            "named": result["named"],
            "layers": result["layers"],
            "per_entry_s": result.get("per_entry_s"),
            "kernel_cpu_s": result.get("kernel_cpu_s"),
            "unit_walls": result.get("unit_walls"),
            "attempted": run.attempted,
            "failed": failed,
            "failed_frac": failed / run.attempted,
            "failures": run.failures,
        }
    )
    series = record["series"]
    if run.tracer is not None:
        spans_dir = os.path.join(HERE, "records", series, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        run.tracer.write(os.path.join(spans_dir, f"{run_id}.jsonl"))
    path = host.append_record(series, args.workload, record)

    for what in run.failures:
        print(f"FAILED {what}")
    print(f"host {series} loadavg {record['loadavg_start'][0]:.2f}->{record['loadavg_end'][0]:.2f} "
          f"steal {record['cpu_steal_s']:.2f}s blas {record['blas']} pyspark {record['pyspark']} "
          f"commit {record['git_commit']} seed {args.seed}")
    for k, v in result["named"].items():
        print(f"{args.workload} {k} = {v:.6g} {NAMED_UNITS[k]}")
    for k, v in e2e.items():
        print(f"{args.workload} {k} = {v:.6g} {E2E_UNITS[k]}")
    print(f"{args.workload} peak_rss_mb = {result['peak_rss_mb']:.6g} MB")
    print(f"{args.workload} failed_frac = {failed / run.attempted:.6g} ratio ({failed}/{run.attempted})")
    if args.trace:
        for k, v in layers.items():
            print(f"{args.workload} {k} = {v:.6g} {LAYER_UNITS[k]}")
    print(f"record appended to {os.path.relpath(path, ROOT)}")
    shown = layers if args.trace else e2e
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
            }
        )
    )
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
