"""SparkSession factory tuned for the engine, and ``map_docs``, the
one per-doc Python stage (how per-doc Python work is cut into tasks).

Local mode is a single JVM; on a real cluster the same configs apply,
with ``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and AQE
coalescing down at runtime.
"""
from __future__ import annotations

import os
import pathlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Repo root — shipped via --py-files on a real cluster; in local mode the
# forked Python workers need it on PYTHONPATH to unpickle our UDFs.
_PKG_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)


def get_spark(
    app_name: str = "apollon_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession, or return the running one as it is.

    A running session keeps the confs it was built with (the arguments
    below apply only when this call starts the session): re-applying
    the defaults to it would silently reset what its owner set, e.g. a
    test session's shuffle partitions, on every ``cli.main`` call.

    Args:
        app_name: Spark application name.
        cpus: parallelism for local mode (int or "*" ). Defaults to
            ``$SPARK_GRAFT_CPUS`` or all cores.
        shuffle_partitions: defaults to max(2*cores, 32) locally. On a
            cluster this would be ~2-3x total executor cores; AQE
            coalesces small partitions at runtime either way.
        extra_conf: additional config overrides.
    """
    if SparkContext._active_spark_context is not None:
        return SparkSession.builder.getOrCreate()
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() or 8 if cpus in ("*", None) else int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 32)

    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{existing}" if existing else _PKG_ROOT)

    # One BLAS thread per Python worker: task-level parallelism comes
    # from Spark; letting every worker spin up a full OpenBLAS/OMP
    # thread pool oversubscribes the box and destroys scaling.
    worker_env = {
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "NUMEXPR_NUM_THREADS": "1",
        # glibc tuning for the vectorized-UDF allocation pattern (large
        # short-lived numpy buffers every Arrow batch): without these,
        # every free() trims the heap and the next batch re-faults the
        # same pages — ~8 minor faults per segment, and the kernel
        # fault path contends badly at high worker counts (measured
        # 10x sys-time inflation at 32 workers, 67x fault reduction
        # with the thresholds set).
        "MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "536870912",
        "MALLOC_TOP_PAD_": "134217728",
        "MALLOC_ARENA_MAX": "2",
    }
    for var, val in worker_env.items():
        os.environ.setdefault(var, val)

    # SPARK_GRAFT_MASTER: run against a real cluster (e.g. a standalone
    # master URL) instead of in-process local mode. cpus then means the
    # TOTAL executor cores the job should assume for sizing.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # the driver heap defaults to 48g, capped at half the machine's RAM:
    # with a cap above physical memory G1 commits heap the box does not
    # have, and the kernel kills the JVM (a 16 GB box's test session
    # reached 14.7 GB RSS)
    ram_gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
              // 1024 ** 3)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM",
                                f"{max(1, min(48, ram_gb // 2))}g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches amortize the Python<->JVM boundary for the
        # pandas-UDF feature kernels (each batch = many whole docs)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # parquet scans: allow splitting large files across tasks
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # on a real cluster the workers don't inherit the driver env
    for var, val in worker_env.items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def map_docs(docs: DataFrame, fn, schema: str) -> DataFrame:
    """Run ``fn(doc_id, tokens)`` on every doc of ``docs`` in ONE
    ``mapInPandas``: the one per-doc Python stage.

    ``fn`` returns ``None`` (no rows for that doc) or a dict of the
    output columns other than ``doc_id``. A numpy array gives one row
    per entry of its first axis (a 2-D array gives array cells), and
    all arrays of one doc have the same length; any other value (a
    scalar, a list, ``None``) repeats on every row of the doc, so a
    dict with no array is one row. ``map_docs`` fills ``doc_id``,
    orders the columns by ``schema`` and yields only non-empty frames.

    Compact-input guard: the per-doc kernels are CPU-bound Python, and
    one small parquet file is ONE scan partition, which would
    serialize the whole stage into a single task. An input with fewer
    partitions than ``defaultParallelism`` is round-robin spread to
    that many first; at real scale inputs carry at least cores-many
    partitions and the plan stays Scan -> Project -> MapInPandas."""
    src = docs.select("doc_id", "tokens")
    par = docs.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    names = StructType.fromDDL(schema).names

    def cells(v, n):
        if isinstance(v, np.ndarray):
            return v
        return np.repeat(v, n) if np.isscalar(v) else [v] * n

    def column(chunks):
        if all(isinstance(c, np.ndarray) and c.ndim == 1 for c in chunks):
            return np.concatenate(chunks)
        return [cell for c in chunks for cell in c]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            chunks = {name: [] for name in names}
            n_rows = 0
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                out = fn(doc_id, tokens)
                if out is None:
                    continue
                n = max((len(v) for v in out.values()
                         if isinstance(v, np.ndarray)), default=1)
                out["doc_id"] = doc_id
                for name in names:
                    chunks[name].append(cells(out[name], n))
                n_rows += n
            if n_rows:
                yield pd.DataFrame({name: column(c)
                                    for name, c in chunks.items()})

    return src.mapInPandas(gen, schema)
