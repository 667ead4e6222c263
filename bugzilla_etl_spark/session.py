"""SparkSession factory.

Local-mode tuning for the sandbox (local[N], single JVM). On a real
cluster the same builder works via spark-submit --py-files with the
master/memory settings supplied externally; every knob here is public
Spark configuration.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "bugzilla_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``),
    shuffle partitions ~= cores (not 200 — local mode), AQE on, Arrow on,
    UTC session timezone (oracle comparison — duckdb timestamps are
    UTC-naive).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    n_threads = _parse_local_threads(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_threads)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # moderate Arrow batches + throughput GC: G1's humongous-region
        # churn under large Arrow allocations caused 3-4x run-to-run
        # variance and degradation in repeated pandas-UDF-heavy jobs
        # (measured: 21s -> 86s across identical builds); ParallelGC is
        # the right collector for batch ETL throughput
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


class python_stage_tuning:
    """Scoped conf for shuffles feeding CPU-heavy Python stages.

    AQE's partition coalescing is bytes-based (64 MB advisory); our
    encode/score shuffles carry few bytes but heavy per-row Python work,
    so coalescing collapses them to a handful of partitions and caps
    parallelism (measured: encode stage pinned at ~5 threads whatever
    the core count). Inside this scope coalescing is off and the shuffle
    has exactly ``cores`` (default parallelism) partitions: one Python
    task per core.

    Why not more: a reused Python worker costs 250-330 ms per task
    before the UDF's first line runs (local[4], 4 vCPU), more than
    encoding a whole 1k-doc append. The groups this scope feeds (the
    SPIMI encoder's and the block merger's ``(shard, salt)``) are runs
    of doc-hash-keyed rows, so they are uniform in size and need no
    over-partitioning to spread skew; a partition that gets no group
    skips Python entirely (~40 ms).
    """

    KEY = "spark.sql.adaptive.coalescePartitions.enabled"
    SHUF = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY, "true")
        self.prev_shuf = self.spark.conf.get(self.SHUF)
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.conf.set(self.KEY, "false")
        self.spark.conf.set(self.SHUF, str(cores))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set(self.KEY, self.prev)
        self.spark.conf.set(self.SHUF, self.prev_shuf)
        return False


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors (the --py-files contract).

    Zips ``bugzilla_etl_spark`` (``package_zip``) and
    ``sc.addPyFile``s it so UDF closures that import the package resolve
    on every executor regardless of the driver's cwd — the same
    mechanism ``spark-submit --py-files`` uses on a real cluster.
    """
    zip_path = package_zip(tempfile.gettempdir())
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def package_zip(out_dir: str) -> str:
    """The package's content-addressed zip in ``out_dir``, written if
    absent: a changed source file can never ship stale. Each writer
    writes its own temp file in ``out_dir`` and publishes it with one
    ``os.replace``, so processes starting at once never share a file:
    the last replace wins, and every copy holds the same bytes."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    digest = hashlib.sha256()
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(root, fn), "rb") as f:
                    digest.update(fn.encode())
                    digest.update(f.read())
    zip_path = os.path.join(
        out_dir, f"bugzilla_etl_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )
    if os.path.exists(zip_path):
        return zip_path
    fd, tmp = tempfile.mkstemp(
        dir=out_dir, prefix=os.path.basename(zip_path) + ".", suffix=".tmp"
    )
    try:
        with os.fdopen(fd, "wb") as out, zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in sorted(files):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "bugzilla_etl_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
        os.chmod(tmp, 0o644)
        os.replace(tmp, zip_path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return zip_path


def _parse_local_threads(master: str) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32  # cluster: caller sets shuffle_partitions explicitly


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # SparkContext singletons linger; SparkSession.builder reuses them.
    from pyspark import SparkContext

    with SparkContext._lock:  # noqa: SLF001 — required to fully reset local master
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
