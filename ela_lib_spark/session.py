"""SparkSession builder tuned for the engine.

Local-mode testing runs `local[N]`; the same builder works under
spark-submit on a real cluster (master is then inherited). The knobs
mirror the reference's concurrency envelope (slice_size /
action_parallelism / buffer_count — /root/reference/service/task/migrator.go:30-36)
re-expressed as partitions / shuffle parallelism / Arrow batch size.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@functools.cache
def _package_zip() -> str:
    """The package zipped once per process, into a directory of its own.
    A path shared between processes breaks both: a second engine
    process overwrites the first one's zip, and Spark then fails the
    first one's tasks ("exists and does not match contents")."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="ela_lib_spark_pkg-")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "ela_lib_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make ela_lib_spark importable on executor Python workers —
    equivalent of `spark-submit --py-files ela_lib_spark.zip`.
    Needed because pandas-UDF closures reference the package by name."""
    spark.sparkContext.addPyFile(_package_zip())


def get_spark(
    app_name: str = "ela_lib_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
    ship_package: bool = True,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS] (env, default 32) when
    no cluster master is configured.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if ship_package:
        _ship_package(spark)
    return spark


def spread(df: DataFrame, cols: list[str]) -> DataFrame:
    """Project to `cols` and hash-repartition on `cols[0]` when the
    input would run on fewer partitions than the cluster has slots
    (guide §2.5 input skew: a small parquet file is one row group, so
    every map stage after the read — a signature UDF, tokenize, a
    window sort — otherwise runs on ONE task regardless of core count;
    measured 8.3 s single-task vs <1 s spread for the minhash UDF at
    sf1.0). The shuffle moves only the projected columns and is not
    taken at scale, where input partitions already exceed parallelism.

    `cols[0]` must be a high-cardinality key (the doc id): hashing a
    unique key spreads as evenly as round-robin and skips round-robin's
    retry-determinism LOCAL SORT of every input partition's full rows
    (spark.sql.execution.sortBeforeRepartition, SPARK-23207).

    The decision runs no job. Without AQE the plan fixes the partition
    count (scan splits or a shuffle width). Behind an AQE shuffle it is
    fixed only at run time, and asking for it executes the upstream
    stages (2 jobs, ~0.4 s when `near_dup` spreads `dedup_exact`
    output). AQE's default parallelism-first coalescing yields fewer
    than defaultParallelism partitions only when the shuffle holds
    under defaultParallelism × minPartitionSize bytes, so the plan's
    size estimate is compared with that; an unknown size (driver rows,
    an RDD) counts as large. A wrong estimate costs speed, never a
    result."""
    out = df.select(*cols)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    qe = out._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        min_part = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
        narrow = int(str(qe.optimizedPlan().stats().sizeInBytes())) < par * min_part
    else:
        narrow = out.rdd.getNumPartitions() < par
    if narrow:
        out = out.repartition(2 * par, F.col(cols[0]))
    return out
