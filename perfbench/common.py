"""Shared plumbing for the benchmark: paths, environment, the Spark
session, latency statistics, result digests and the run context.

Everything the benchmark writes at run time goes under ``WORK`` (the
gitignored ``perfbench/.work`` directory of the checkout)."""

from __future__ import annotations

import hashlib
import os
import platform
import resource
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
#: this process's scratch (Spark local dirs, temp files), removed at exit
PROC = WORK / f"proc-{os.getpid()}"

#: the fixed percentile grid ``op_tail_s`` chooses from; the highest one
#: with at least ``TAIL_BEYOND`` samples above it is reported
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point the package, its Python workers and every scratch directory
    at the checkout, before the JVM starts."""
    WORK.mkdir(parents=True, exist_ok=True)
    for old in WORK.glob("proc-*"):  # left behind by runs that were killed
        if not Path(f"/proc/{old.name[5:]}").exists():
            shutil.rmtree(old, ignore_errors=True)
    tmp = PROC / "tmp"
    local = PROC / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = (
        f"{ROOT}{os.pathsep}{path}" if path else str(ROOT))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    # the JVM writes its own scratch (derby, warehouse) to the cwd and
    # java.io.tmpdir; keep both inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp}").strip()
    import tempfile

    tempfile.tempdir = str(tmp)


def start_session():
    """The package's session, as a user gets it, plus one warm job."""
    from xcube_spark.session import get_session

    spark = get_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and remove this process's scratch."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    shutil.rmtree(PROC, ignore_errors=True)


def tail(values) -> tuple[float, float, int]:
    """(latency, percentile, samples): the highest grid percentile with at
    least ``TAIL_BEYOND`` samples beyond it; the maximum when there are
    too few samples for any grid point."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND:
            # nearest-rank percentile
            k = max(0, min(n - 1, int(-(-p * n // 100)) - 1))
            return xs[k], p, n
    return xs[-1], 100.0, n


def _canonical(col):
    """One result column as strings: floats at 6 decimals (as fixed-point
    integers), timestamps as epoch microseconds, NULL as ``None``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_dictionary(t):
        col, t = col.cast(t.value_type), t.value_type
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        col = pc.cast(pc.round(pc.multiply(col.cast(pa.float64()), 1e6)),
                      pa.int64())
    elif pa.types.is_timestamp(t):
        col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date(t):
        col = col.cast(pa.date32()).cast(pa.int32())
    if not (pa.types.is_integer(col.type) or pa.types.is_string(col.type)
            or pa.types.is_large_string(col.type)
            or pa.types.is_boolean(col.type)):
        col = pa.array([None if v is None else str(v)
                        for v in col.to_pylist()], pa.string())
    return pc.fill_null(col.cast(pa.string()), "None")


def arrow_digest(table) -> tuple[int, str]:
    """(rows, sha256) of a result table, insensitive to row and column
    order: the oracle gate's value normalisation (columns sorted by name,
    floats at 6 decimals, rows sorted) done in Arrow."""
    import pyarrow.compute as pc

    table = table.combine_chunks()
    cols = [_canonical(table.column(c)) for c in sorted(table.column_names)]
    if cols:
        lines = pc.binary_join_element_wise(*cols, "\x01")
        lines = pc.take(lines, pc.sort_indices(lines)).to_pylist()
    else:
        lines = []
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return table.num_rows, h.hexdigest()


def dir_stats(path) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; hidden and
    underscore-prefixed bookkeeping files (``_SUCCESS``, ``.crc``) are
    not data."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the Spark JVM (VmHWM) plus this Python
    process (ru_maxrss), in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def run_context(spark, seed: int, load_start: float) -> dict:
    conf = spark.conf
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "load_avg_1m_start": round(load_start, 2),
        "load_avg_1m_end": round(os.getloadavg()[0], 2),
        "seed": seed,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
    }

