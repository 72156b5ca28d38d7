"""The three workloads. Each is one Python process and its Spark JVM on
``local[nproc]``: a closed loop with one client, which issues its next
operation only after the previous one completed.

``headline``    the pinned headline entries of the query registry, built and
                executed to the noop sink: builders and Spark execution.
``steer_live``  a ``LiveSteeringSession`` over 4 of the steering shapes and
                all 49 hint sets: hint application, EXPLAIN fingerprinting,
                hinted execution with timeout cancellation, plan-equivalence
                inheritance.
``sim_matrix``  ``LimeQOStrategy`` and ``LimeQOPlusStrategy`` on a seeded
                CEB-shaped matrix, without Spark: the ALS solver. Its
                processor times are the process's own, calibrated to the
                reference host's speed with ``perfbench/calib.py``.

Each workload returns its timed unit's processor time (``work_cpu_s`` and
the two phases it splits into) and walls, the exact counts that must repeat between runs of the same
code and seed, and, when traced, the per-layer metrics of one traced unit.
Output checks run outside the timed regions; their time is kept out of
``setup_s`` too.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext

import numpy as np

from perfbench import calib, datagen, host
from perfbench.layers import LAYERS, LayerState, instrument, job_counts, layer_metrics
from perfbench.trace import Tracer

#: The 43 headline entries (one per operator family, heaviest variants),
#: pinned here rather than imported from the repository's bench script so
#: that rewriting that script cannot change what this benchmark measures.
HEADLINE = (
    "q01_parquet_scan_checksum",
    "q05_projection_charge",
    "q07_broadcast_join",
    "q08_sortmerge_join",
    "q11_nonequi_join",
    "q14_asof_join",
    "q15_star_join",
    "q16_tpch_q1_agg",
    "q48_tpch_q5_local_volume",
    "q71_tpch_q6_forecast_revenue",
    "q72_tpch_q8_market_share",
    "q80_tpch_q21_waiting_suppliers",
    "q46_partition_pruned_scan",
    "q51_bucketed_colocated_join",
    "q17_count_distinct",
    "q21_sort_limit",
    "q23_ranking_windows",
    "q25_running_sum",
    "q37_dedup_exact",
    "q40_tokenize_counts",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_chunk_reconstruct",
    "dedup_substring_spans",
    "dedup_cluster_canonical",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_partitioned",
    "ann_pq_adc",
    "corpus_mix_quota_sample",
    "corpus_shuffle_shards",
    "skew_salted_join",
    "text_quality_score",
    "text_fingerprint",
    "text_contamination_overlap",
    "text_tfidf_top_terms",
    "cdc_scd2_history",
    "q83_time_range_window",
    "limeqo_wl_topk_improvement",
    "q44a_stream_tumbling",
)

#: The entries each headline run measures: 6 of the 43, 3 relational and
#: 3 pipeline/streaming. A cold plus two warm passes over all 43 take about
#: 90 s on 4 cores, which does not fit the benchmark's run budget next to
#: the steering session. Kept: the parquet scan, the TPC-H Q1 aggregate and
#: the deepest (8-relation) join; MinHash dedup, the IVF shortlist path and
#: the streaming entry. All 43 names are still checked against the registry
#: every run.
MEASURED = (
    "q01_parquet_scan_checksum",
    "q16_tpch_q1_agg",
    "q72_tpch_q8_market_share",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "q44a_stream_tumbling",
)

#: The steering shapes each steer_live session explores, 4 of the 12 of
#: ``limeqo_spark.workloads.steering_workload`` (a 12-shape session takes
#: about 42 s on 4 cores, a 4-shape one about 20 s): the 5-way star,
#: semi/anti joins, the fact-fact join and the windowed top-n.
STEER_SHAPES = (
    "star_5way",
    "semi_anti_mix",
    "fact_fact",
    "window_topn",
)

#: fixture scale of the Spark workloads (lineitem = 6e6 * SF rows)
SF = 0.01
#: heap of the Spark JVM, reserved at start
JVM_HEAP = "2g"
#: input generations per run; set-up counts their median
GENERATIONS = 3
#: steering session: bootstrap budget per run, explore rounds and batch
STEER_BOOT_TIMEOUT_S = 60.0
STEER_ROUNDS = 3
STEER_K = 4
#: sim track: LimeQO batch and round caps of both strategies, small enough
#: that a run holds several units to take the median of
SIM_K = 8
SIM_LIMEQO_ROUNDS = 2
SIM_PLUS_ROUNDS = 1
#: sim track: calibration-kernel calls right after set-up
SIM_SETUP_CALIBRATIONS = 3


class Run:
    """State of one benchmark run: arguments, work directory, outcome of
    every check, and the time to keep out of ``setup_s``."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, t0: float):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.t0, self.cpu0 = work, t0, host.cpu_busy_s()
        self.attempted = 0
        self.failures: list[str] = []
        self.excluded_s = 0.0
        self.excluded_cpu_s = 0.0
        self.tracer: Tracer | None = None

    def op(self, ok: bool, what: str) -> bool:
        """Count one operation or check; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        self.tracer.count(name)
        return self.tracer.span(name)

    def check(self):
        """Span for an output check inside a timed unit: traced runs leave
        its time out of every layer and out of the unit."""
        return self.span("check")

    @contextmanager
    def excluded(self) -> Iterator[None]:
        """Keep the wall and processor time of the block out of set-up."""
        c, t = host.cpu_busy_s(), time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t
            self.excluded_cpu_s += host.cpu_busy_s() - c

    def setup(self) -> tuple[float, float]:
        """(processor seconds, wall seconds) since the run started, less
        the excluded time."""
        cpu = host.cpu_busy_s() - self.cpu0 - self.excluded_cpu_s
        return cpu, time.perf_counter() - self.t0 - self.excluded_s

    def log(self, what: str) -> None:
        """Progress line on stderr: seconds since process start."""
        print(f"perfbench {time.perf_counter() - self.t0:7.2f}s {what}", file=sys.stderr, flush=True)


def _repeat_units(seconds: float, unit: Callable[[], float]) -> int:
    """Run ``unit`` (which returns its wall) until the walls add up to
    ``seconds``; return how many ran."""
    spent, n = 0.0, 0
    while spent < seconds:
        spent += unit()
        n += 1
    return n


def _traced_unit(run: Run, unit: Callable[[], float], sc=None) -> dict[str, float]:
    """An untraced unit, then a traced one: the per-layer metrics of the
    traced unit, and the tracing overhead as its wall minus the untraced
    unit's wall."""
    untraced = unit()
    run.tracer = Tracer(run_id=os.path.basename(run.work))
    state = LayerState()
    uninstall = instrument(run.tracer, state)
    try:
        with run.tracer.span("unit") as root:
            traced = unit()
    finally:
        uninstall()
    out = layer_metrics(run.tracer, state, root, sc)
    out["trace.overhead_s"] = traced - untraced
    covered = sum(out[f"{layer}.s"] for layer in LAYERS) + out["trace.uncovered_s"]
    run.op(abs(covered - out["trace.root_s"]) < 1e-6, "trace: layer self times do not add up")
    return out


# --- inputs and session --------------------------------------------------------


def _generate(run: Run, make: Callable[[], object]) -> list:
    """Call ``make`` GENERATIONS times; only the median call counts as
    set-up."""
    outs, walls, cpus = [], [], []
    for _ in range(GENERATIONS):
        c, t = host.cpu_busy_s(), time.perf_counter()
        outs.append(make())
        walls.append(time.perf_counter() - t)
        cpus.append(host.cpu_busy_s() - c)
    run.excluded_s += sum(walls) - statistics.median(walls)
    run.excluded_cpu_s += sum(cpus) - statistics.median(cpus)
    return outs


def _fixture_dir(run: Run) -> str:
    """Generate the fixture tables GENERATIONS times (the bytes must match)
    and write them once."""
    outs = _generate(run, lambda: datagen.fixture_tables(run.seed, SF))
    with run.excluded():
        same = len({datagen.tables_digest(t) for t in outs}) == 1
    run.op(same, "datagen: one seed gave different tables")
    out = os.path.join(run.work, "data")
    datagen.write_tables(outs[0], out)
    return out


def _start_spark(run: Run):
    from limeqo_spark.session import get_spark

    n = host.nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(run.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # A fixed-size heap: a JVM that grows its heap on demand takes
            # a different path each run, and its GC time and peak RSS with
            # it. The C1 compiler only: under the default tiered compiler a
            # headline pass still gets faster at its fifth repeat, so a
            # run's walls depend on how far the JIT got, not on the engine.
            "spark.driver.memory": JVM_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:TieredStopAtLevel=1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # JVM and codegen warm-up on the noop sink the timed runs write to
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    return spark


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Python ``ru_maxrss`` plus the JVM's ``VmHWM`` from /proc."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024.0
    return mb


def shutdown_spark() -> None:
    """Stop the active session, if any, and the JVM it runs in; wait until
    the JVM has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None and proc.poll() is None:
        proc.terminate()
        proc.wait(timeout=60)


# --- headline ------------------------------------------------------------------


def headline(run: Run) -> dict:
    import duckdb

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.relational.registry import release_retained
    from limeqo_spark.testing import compare_frames

    registered = {n for n in HEADLINE if run.op(n in REGISTRY, f"headline: {n} is not registered")}
    names = [n for n in MEASURED if n in registered]
    sf_dir = _fixture_dir(run)
    run.log("inputs written")
    spark = _start_spark(run)
    run.log("session started")
    sc = spark.sparkContext
    order = [names[i] for i in np.random.default_rng(run.seed).permutation(len(names))]

    # cold pass (set-up): first execution of every entry, collected so its
    # rows can be checked against the DuckDB oracle
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for n in order:
        spec = REGISTRY[n]
        t = time.perf_counter()
        got = spec.builder(spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        release_retained()
        t1 = time.perf_counter()
        with run.excluded():
            if spec.check == "hash":
                ok, msg = compare_frames(got, con.execute(spec.oracle).fetchdf())
            else:
                ok, msg = len(got) > 0, "no rows"
            run.op(ok, f"headline: {n}: {msg}")
        run.log(f"cold {n}: run {t1 - t:.2f}s check {time.perf_counter() - t1:.2f}s")
    con.close()
    run.log("cold pass checked")

    walls: dict[str, list[float]] = {n: [] for n in order}
    cpus: dict[str, list[float]] = {n: [] for n in order}
    counts: dict[str, set[tuple[int, int, int]]] = {n: set() for n in order}
    pass_no = [0]
    pass_walls: list[float] = []

    def one_pass() -> float:
        pass_no[0] += 1
        total = 0.0
        for n in order:
            group = f"perfbench-{pass_no[0]}-{n}"
            sc.setJobGroup(group, n)
            c, t = host.cpu_busy_s(), time.perf_counter()
            with run.span("build"):
                df = REGISTRY[n].builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t
            cpus[n].append(host.cpu_busy_s() - c)
            total += wall
            walls[n].append(wall)
            spark.catalog.clearCache()
            release_retained()
            with run.check():
                counts[n].add(job_counts(sc, [group]))
                # the next entry starts on a collected heap, so that its
                # wall does not depend on which entry ran before it
                spark._jvm.System.gc()
        pass_walls.append(total)
        run.log(f"pass {pass_no[0]}: {total:.2f}s")
        return total

    setup_s, setup_wall_s = run.setup()
    run.log(f"set-up {setup_wall_s:.2f}s")

    if run.trace:
        layers = _traced_unit(run, one_pass, sc)
        passes = 2
    else:
        layers = {}
        passes = _repeat_units(run.seconds, one_pass)
    rss = peak_rss_mb(_jvm_pid())
    shutdown_spark()

    for n in order:
        run.op(len(counts[n]) == 1, f"headline: {n}: job counts drift between passes {sorted(counts[n])}")
    relational = {n for n in order if REGISTRY[n].builder.__module__.startswith("limeqo_spark.relational")}
    med = {n: statistics.median(w) for n, w in walls.items()}
    med_cpu = {n: statistics.median(c) for n, c in cpus.items()}
    sql = sum(med[n] for n in relational)
    sql_cpu = sum(med_cpu[n] for n in relational)
    total, total_cpu = sum(med.values()), sum(med_cpu.values())
    return {
        "setup_s": setup_s,
        "work_cpu_s": total_cpu,
        "phase1_cpu_s": sql_cpu,
        "phase2_cpu_s": total_cpu - sql_cpu,
        "peak_rss_mb": rss,
        "named": {"setup_wall_s": setup_wall_s, "headline_s": total, "headline_sql_s": sql, "headline_pipeline_s": total - sql},
        "units": passes,
        "exact": {n: list(min(counts[n])) for n in sorted(order)},
        "per_entry_s": med,
        "unit_walls": pass_walls,
        "layers": layers,
    }


# --- live steering -------------------------------------------------------------


def steer_live(run: Run) -> dict:
    import limeqo_spark.live as live
    from limeqo_spark import hints as H
    from limeqo_spark import steer
    from limeqo_spark.workloads import steering_workload

    sf_dir = _fixture_dir(run)
    run.log("inputs written")
    spark = _start_spark(run)
    run.log("session started")
    registered = steering_workload(spark, sf_dir)
    shapes = {
        q: registered[q]
        for q in STEER_SHAPES
        if run.op(q in registered, f"steer_live: shape {q} is not registered")
    }

    # warm-up (set-up): the bootstrap of a discarded session over every
    # other hint set, which compiles the planner's hot paths
    live.LiveSteeringSession(
        spark, dict(shapes), hint_sets=list(H.REGISTRY[::2]), seed=run.seed
    ).bootstrap(timeout_s=STEER_BOOT_TIMEOUT_S)
    setup_s, setup_wall_s = run.setup()
    run.log(f"warm-up done, set-up {setup_wall_s:.2f}s")

    conf_keys = sorted({k for hs in H.REGISTRY for k in hs.confs})
    check_s = [0.0]
    orig_run_steered = live.run_steered

    def checked_run_steered(spark_, build, hint_set, timeout_s=None):
        t = time.perf_counter()
        with run.check():
            before = {k: spark_.conf.get(k, None) for k in conf_keys}
        check_s[0] += time.perf_counter() - t
        # resolved per call: the traced unit replaces steer.run_steered
        result = steer.run_steered(spark_, build, hint_set, timeout_s)
        t = time.perf_counter()
        with run.check():
            after = {k: spark_.conf.get(k, None) for k in conf_keys}
            run.op(before == after, f"steer_live: hint {hint_set.hint_id} left confs changed")
        check_s[0] += time.perf_counter() - t
        return result

    phases: list[tuple[float, float]] = []
    phases_cpu: list[tuple[float, float]] = []
    sessions: list = []

    def session() -> float:
        queries = {
            qid: (run.tracer.wrap(b, "build") if run.tracer is not None else b)
            for qid, b in shapes.items()
        }
        s = live.LiveSteeringSession(spark, queries, seed=run.seed)
        c0 = check_s[0]
        u0, t = host.cpu_busy_s(), time.perf_counter()
        s.bootstrap(timeout_s=STEER_BOOT_TIMEOUT_S)
        c1 = check_s[0]
        u1, t1 = host.cpu_busy_s(), time.perf_counter()
        s.explore(rounds=STEER_ROUNDS, k=STEER_K, model="als")
        u2, t2 = host.cpu_busy_s(), time.perf_counter()
        phases.append((t1 - t - (c1 - c0), t2 - t1 - (check_s[0] - c1)))
        phases_cpu.append((u1 - u0, u2 - u1))
        sessions.append(s)
        run.log(f"session: bootstrap {phases[-1][0]:.2f}s explore {phases[-1][1]:.2f}s")
        return t2 - t

    live.run_steered = checked_run_steered
    try:
        if run.trace:
            layers = _traced_unit(run, session, spark.sparkContext)
            units = 2
        else:
            layers = {}
            units = _repeat_units(run.seconds, session)
    finally:
        live.run_steered = orig_run_steered
    rss = peak_rss_mb(_jvm_pid())
    shutdown_spark()

    for s in sessions:
        _check_inheritance(run, s)
    last = sessions[-1]
    obs = last.observations
    measured = sum(o.measured for o in obs)
    inherited = len(obs) - measured
    boot = statistics.median(p[0] for p in phases)
    explore = statistics.median(p[1] for p in phases)
    boot_cpu = statistics.median(p[0] for p in phases_cpu)
    explore_cpu = statistics.median(p[1] for p in phases_cpu)
    if layers:
        layers.update(
            {
                "live.measured_cells": measured,
                "live.inherited_cells": inherited,
                "live.inherit_ratio": inherited / len(obs),
                "live.censored_frac": sum(o.latency is None for o in obs) / len(obs),
            }
        )
    exact = (
        {k: layers[k] for k in ("plans.explain_calls", "plans.distinct_hashes")} if layers else {}
    )
    return {
        "setup_s": setup_s,
        "work_cpu_s": boot_cpu + explore_cpu,
        "phase1_cpu_s": boot_cpu,
        "phase2_cpu_s": explore_cpu,
        "peak_rss_mb": rss,
        "named": {"setup_wall_s": setup_wall_s, "steer_session_s": boot + explore, "steer_bootstrap_s": boot, "steer_explore_s": explore},
        "units": units,
        "exact": exact,
        "unit_walls": [a + b for a, b in phases],
        "layers": layers,
    }


def _check_inheritance(run: Run, session) -> None:
    """Every inherited observation carries the latency or cutoff of the
    measured observation of its plan class that preceded it."""
    last: dict[tuple[str, str], tuple] = {}
    for o in session.observations:
        key = (o.query_id, o.plan_hash)
        if o.measured:
            last[key] = (o.latency, o.censor_cutoff)
        else:
            run.op(
                last.get(key) == (o.latency, o.censor_cutoff),
                f"steer_live: {o.query_id} hint {o.hint_id} inherited {(o.latency, o.censor_cutoff)}"
                f" but its class measured {last.get(key)}",
            )


# --- simulation track ----------------------------------------------------------


def sim_matrix(run: Run) -> dict:
    from limeqo_spark.strategies import LimeQOPlusStrategy, LimeQOStrategy
    from limeqo_spark.workload import Workload

    outs = _generate(run, lambda: datagen.sim_matrix(run.seed))
    same = len({(lat.tobytes(), m.tobytes()) for lat, m, _ in outs}) == 1
    run.op(same, "sim_matrix: one seed gave different matrices")
    latency, mask, _classes = outs[0]
    wl = Workload(latency, mask)
    default, opt = wl.default_time, wl.opt_time
    # BLAS warm-up on the solver's own shapes
    LimeQOStrategy(wl, k=SIM_K, seed=run.seed, max_rounds=1).run()
    setup_cpu, setup_wall_s = run.setup()
    # calibration-kernel calls are kept out of set-up; traced units count
    # them as checks, outside every layer
    with run.excluded():
        kernel_inputs = calib.kernel_inputs()
        calib.kernel_cpu_s(kernel_inputs)  # warm-up
        kernel = [calib.kernel_cpu_s(kernel_inputs) for _ in range(SIM_SETUP_CALIBRATIONS)]
    setup_s = setup_cpu * calib.REF_S / statistics.mean(kernel)

    phases: list[tuple[float, float]] = []
    phases_cpu: list[tuple[float, float]] = []
    phases_calibrated: list[tuple[float, float]] = []
    ratios: set[tuple[float, float]] = set()

    def unit() -> float:
        walls_, cpus_, calibrated, finals = [], [], [], []
        for cls, kw in (
            (LimeQOStrategy, {"k": SIM_K, "max_rounds": SIM_LIMEQO_ROUNDS}),
            (LimeQOPlusStrategy, {"max_rounds": SIM_PLUS_ROUNDS}),
        ):
            # the Python process's own time: the solver runs in it alone
            c, t = time.process_time(), time.perf_counter()
            strat = cls(wl, seed=run.seed, time_budget=None, **kw)
            records = strat.run()
            walls_.append(time.perf_counter() - t)
            cpus_.append(time.process_time() - c)
            # calibrated by the kernel calls just before and just after it
            with run.check():
                kernel.append(calib.kernel_cpu_s(kernel_inputs))
            calibrated.append(cpus_[-1] * calib.REF_S / statistics.mean(kernel[-2:]))
            final = float(strat.state.min_observed().sum())
            curve = [r["total_latency"] for r in records] + [final]
            with run.check():
                run.op(
                    all(b <= a for a, b in zip(curve, curve[1:]))
                    and all(opt - 1e-9 <= c <= default + 1e-9 for c in curve),
                    f"sim_matrix: {cls.name} curve leaves [opt, default] or rises",
                )
            finals.append(final / default)
        phases.append((walls_[0], walls_[1]))
        phases_cpu.append((cpus_[0], cpus_[1]))
        phases_calibrated.append((calibrated[0], calibrated[1]))
        ratios.add(tuple(finals))
        return sum(walls_)

    if run.trace:
        layers = _traced_unit(run, unit)
        units = 2
    else:
        layers = {}
        units = _repeat_units(run.seconds, unit)
    run.op(len(ratios) == 1, f"sim_matrix: ratios differ between units {sorted(ratios)}")
    limeqo_ratio, plus_ratio = min(ratios)
    if layers:
        layers["strategies.limeqo_ratio"] = limeqo_ratio
        layers["strategies.limeqo_plus_ratio"] = plus_ratio
    first = statistics.median(p[0] for p in phases)
    second = statistics.median(p[1] for p in phases)
    first_cpu = statistics.median(p[0] for p in phases_calibrated)
    second_cpu = statistics.median(p[1] for p in phases_calibrated)
    return {
        "setup_s": setup_s,
        "work_cpu_s": first_cpu + second_cpu,
        "phase1_cpu_s": first_cpu,
        "phase2_cpu_s": second_cpu,
        "peak_rss_mb": peak_rss_mb(None),
        "named": {
            "setup_wall_s": setup_wall_s,
            "sim_setup_cpu_s": setup_cpu,
            "sim_s": first + second,
            "sim_cpu_s": sum(statistics.median(p[i] for p in phases_cpu) for i in (0, 1)),
            "sim_limeqo_ratio": limeqo_ratio,
            "sim_limeqo_plus_ratio": plus_ratio,
        },
        "kernel_cpu_s": kernel,
        "units": units,
        "exact": {"sim_limeqo_ratio": limeqo_ratio, "sim_limeqo_plus_ratio": plus_ratio},
        "unit_walls": [a + b for a, b in phases],
        "layers": layers,
    }


WORKLOADS: dict[str, Callable[[Run], dict]] = {
    "headline": headline,
    "steer_live": steer_live,
    "sim_matrix": sim_matrix,
}
