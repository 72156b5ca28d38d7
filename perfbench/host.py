"""Per-run host record and the append-only record store.

Every run appends one JSON line to ``records/<key>/<workload>.jsonl``
under the benchmark directory, where the key names the core count and the
``local[N]`` master. Runs are only ever compared within one key, so a
4-core record and a 32-core record never form one series. The committed
first records live under ``baseline/<key>/`` and are read the same way.
"""

from __future__ import annotations

import ctypes
import hashlib
import json
import os
import platform
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_model() -> str:
    """The processor's model name: numeric results of the BLAS kernels can
    differ in their last bits between processor models."""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.machine()


def series_key(cpus: int, local_n: int) -> str:
    return f"cpus{cpus}-local{local_n}"


def source_digest(package_dir: str) -> str:
    """SHA-256 over the engine's Python sources (relative path + bytes): the
    identity of the code under test, available with or without git."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(package_dir):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def blas_info() -> dict:
    """Name of NumPy's BLAS and its current thread count (read from the
    loaded OpenBLAS library when there is one)."""
    import numpy as np

    info: dict = {"name": "unknown", "threads": None}
    try:
        info["name"] = np.show_config(mode="dicts")["Build Dependencies"]["blas"]["name"]
    except (KeyError, TypeError):
        pass
    with open("/proc/self/maps") as f:
        libs = sorted({p for p in (line.split()[-1] for line in f) if "openblas" in p and ".so" in p})
    for lib in libs:
        try:
            handle = ctypes.CDLL(lib)
        except OSError:
            continue
        for sym in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
            fn = getattr(handle, sym, None)
            if fn is not None:
                fn.argtypes = []
                fn.restype = ctypes.c_int
                info["threads"] = int(fn())
                return info
    return info


def _cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_busy_s() -> float:
    """Processor seconds spent running code (user, nice, system, irq,
    softirq), summed over processors, since boot. Time the hypervisor gave
    to other machines (steal) is not in it, so the change over a piece of
    work measures the work, not how contended the host was."""
    t = _cpu_ticks()
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """Seconds the hypervisor ran something else while this machine's
    processors had work, summed over processors, since boot (the steal
    column of /proc/stat). Its change over a run tells a slow run on a
    shared host from a slow program."""
    return _cpu_ticks()[7] / os.sysconf("SC_CLK_TCK")


def host_record(seed: int, local_n: int, workload: str, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": nproc(),
        "cpu_model": cpu_model(),
        "local": f"local[{local_n}]",
        "series": series_key(nproc(), local_n),
        "loadavg_start": list(os.getloadavg()),
        "cpu_steal_start_s": cpu_steal_s(),
        "blas": blas_info(),
        "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "source_digest": source_digest(os.path.join(ROOT, "limeqo_spark")),
    }


def _series_files(series: str, workload: str) -> list[str]:
    return [
        os.path.join(HERE, sub, series, f"{workload}.jsonl") for sub in ("baseline", "records")
    ]


def prior_records(series: str, workload: str) -> list[dict]:
    """Every committed and recorded run of ``workload`` in one series."""
    out = []
    for path in _series_files(series, workload):
        if os.path.exists(path):
            with open(path) as f:
                out.extend(json.loads(line) for line in f if line.strip())
    return out


def append_record(series: str, workload: str, record: dict) -> str:
    path = _series_files(series, workload)[1]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    return path
