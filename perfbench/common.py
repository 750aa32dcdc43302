"""Run environment, Spark set-up, output hashing and small statistics."""

from __future__ import annotations

import os
import platform
import statistics
import time
from dataclasses import dataclass
from typing import Callable

import pandas as pd

PACKAGE = "data_integration_and_processing_spark"


@dataclass
class Op:
    """One closed-loop operation. ``run`` performs it and returns a check
    thunk; the check runs after the op's latency is taken."""

    name: str
    layer: str
    rows: int
    run: Callable[[], Callable[[], bool]]


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 16 << 30


def pin_environment(scratch: str) -> dict:
    """Fix the knobs the engine reads from the environment, so every run
    of every commit sees the same machine shape; returns them for the record."""
    cpus = len(os.sched_getaffinity(0))
    mem = mem_total_bytes()
    # the engine's default heap (16g) is all of a 16 GB machine; leave room
    # for Python workers and the OS
    heap_gb = max(1, min(4, mem // (4 << 30)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": f"{scratch}/local",
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "TMPDIR": f"{scratch}/tmp",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return {"nproc": cpus, "mem_total_bytes": mem, **env}


def versions() -> dict:
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__}


def spark_conf(scratch: str) -> dict[str, str]:
    """Session extras that keep Derby, the warehouse and temp files out of
    the working directory."""
    derby = f"{scratch}/derby"
    os.makedirs(derby, exist_ok=True)
    return {
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={derby} -Dderby.stream.error.file={derby}/derby.log "
            f"-Djava.io.tmpdir={scratch}/tmp"
        ),
        "spark.hadoop.javax.jdo.option.ConnectionURL":
            f"jdbc:derby:;databaseName={scratch}/metastore_db;create=true",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def set_up_session(get_spark, conf: dict[str, str]):
    """One session set-up: build the session, run the first JVM job, spawn
    a Python worker (Arrow UDF) and write once to the noop sink."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).agg(F.sum("id")).collect()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(64).select(plus_one("id")).collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}


def java_version(spark) -> str:
    return str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))


def vm_hwm_bytes(pid: int | str = "self") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# --------------------------------------------------------------------------
# order-independent output hashing (the same expression on both sides)
# --------------------------------------------------------------------------

def hash_aggs(df):
    """(row count, sum of per-row hashes) over the name-sorted columns
    rendered as strings -- independent of row order and column order."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns, key=str.lower)
    row = F.concat_ws("\x1f", *[F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("\x00")) for c in cols])
    return [F.count(F.lit(1)).alias("n"), F.sum(F.pmod(F.xxhash64(row), F.lit(2147483647))).alias("h")]


def frame_hash(df) -> tuple[tuple[str, ...], int, int]:
    r = df.agg(*hash_aggs(df)).first()
    return tuple(sorted(c.lower() for c in df.columns)), int(r["n"]), int(r["h"] or 0)


def frame_hashes(frames: dict) -> dict[str, tuple[tuple[str, ...], int, int]]:
    """``frame_hash`` of several DataFrames in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [df.agg(F.lit(name).alias("name"), *hash_aggs(df)) for name, df in frames.items()]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    cols = {name: tuple(sorted(c.lower() for c in df.columns)) for name, df in frames.items()}
    return {r["name"]: (cols[r["name"]], int(r["n"]), int(r["h"] or 0)) for r in rows}


def pandas_hashes(spark, frames: dict) -> dict[str, tuple[tuple[str, ...], int, int]]:
    """Hashes of expected pandas frames, computed with the same Spark
    expression as the engine's output (schema inferred from pandas)."""
    return frame_hashes({name: spark.createDataFrame(pdf) for name, pdf in frames.items()})


def observed_noop(df, name: str) -> tuple[tuple[str, ...], int, int]:
    """Run ``df`` to the noop sink, hashing its rows on the way (the hash
    rides the same action as an observation)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    df.observe(obs, *hash_aggs(df)).write.format("noop").mode("overwrite").save()
    m = obs.get
    return tuple(sorted(c.lower() for c in df.columns)), int(m["n"]), int(m["h"] or 0)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples above it:
    (value, percentile, samples above). Below twenty samples no percentile
    from the median up has ten samples above it, so the max is reported."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
