"""SparkSession helpers: tuned builder + worker-side package shipping."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


#: the default driver heap's share of physical memory, and its bounds
_HEAP_SHARE, _HEAP_MIN_GB, _HEAP_MAX_GB = 0.6, 1, 16


def default_driver_memory(meminfo: str | None = None) -> str:
    """Default ``spark.driver.memory``: 60% of the machine's memory
    (``MemTotal`` of ``/proc/meminfo``, or the ``meminfo`` text given),
    rounded down to whole GiB, within 1g..16g. A fixed 16g would
    exceed the memory of a smaller machine. Where ``/proc/meminfo``
    cannot be read, 16g."""
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            return f"{_HEAP_MAX_GB}g"
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            kib = int(line.split()[1])
            gib = int(kib * _HEAP_SHARE) >> 20
            return f"{min(max(gib, _HEAP_MIN_GB), _HEAP_MAX_GB)}g"
    return f"{_HEAP_MAX_GB}g"


def get_spark(app_name: str = "duckdb_geography_spark", cpus: str | int = "*",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local-mode session with the configuration this engine assumes.

    AQE on (runtime re-planning / skew joins), Arrow on (pandas UDF
    transfer). ``shuffle_partitions`` defaults to the core count when
    it is numeric (Spark's 200 default drowns small fixtures in empty
    partitions) — at cluster scale you would size it to data volume
    instead. Configs apply only when the session is first created.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", cpus)
    if shuffle_partitions is None and str(cpus).isdigit():
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        # r11 note: coalescePartitions.parallelismFirst=false (merge
        # post-shuffle partitions by advisory byte size) was tried and
        # measured BOTH ways: ~10% faster on the sf0.1 fixture (32
        # near-empty reduce tasks per KB-sized exchange go away) but
        # 1.5-2x SLOWER on several sf10 queries — size-based
        # coalescing collapses parallelism for stages whose per-row
        # compute (Python scoring, explodes, windows) is heavy
        # relative to their shuffle bytes. A small-fixture-only win
        # that regresses at scale is the wrong trade; the default
        # (parallelism first) stays.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode runs driver and executors in ONE JVM whose default
        # heap is 1g — fine for sf0.1 fixtures, OOM at sf1+. Only
        # effective when this call actually creates the JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    attach(spark)
    return spark


def attach(spark: SparkSession) -> SparkSession:
    """Make this package importable on executor Python workers.

    Driver-side ``sys.path`` edits do not propagate to the forked
    worker processes, so ship the package as a zip via ``addPyFile``
    (idempotent per session). Call this when using an externally
    created SparkSession.
    """
    marker = "_duckdb_geography_spark_shipped"
    sc = spark.sparkContext
    if getattr(sc, marker, False):
        return spark
    zpath = os.path.join(tempfile.mkdtemp(prefix="dgs_pkg_"), f"{_PKG_NAME}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fn in files:
                # .tsv: the bundled sample-data tables (data/*.tsv) —
                # driver-side loads may resolve the package from this
                # zip (addPyFile prepends it to driver sys.path too)
                if fn.endswith((".py", ".tsv")):
                    full = os.path.join(root, fn)
                    rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    setattr(sc, marker, True)
    return spark
