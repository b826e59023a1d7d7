"""SparkSession helpers.

``ship_package`` makes auth2wd_spark importable on executors regardless of
the driver's working directory — the local-mode stand-in for
``spark-submit --py-files auth2wd_spark.zip`` (north_rule). Idempotent per
SparkContext.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def package_zip_path() -> str:
    """Build (once) a zip of the auth2wd_spark package for --py-files/addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_path = os.path.join(parent, "auth2wd_spark.pyfiles.zip")
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if os.path.exists(zip_path) and os.path.getmtime(zip_path) >= src_mtime:
        return zip_path
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join("auth2wd_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Ensure executors can import auth2wd_spark (UDF closures need it)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    try:
        sc.addPyFile(package_zip_path())
    except Exception:
        # zip not writable (read-only checkout) or already added — workers
        # may still resolve the package via cwd/PYTHONPATH
        pass
    _SHIPPED.add(key)


def release_all_cached(spark: SparkSession) -> None:
    """Free every cached DataFrame AND checkpointed/persisted RDD block.

    localCheckpoint() blocks are persisted RDDs that spark.catalog's
    clearCache does not reach; repeated pipeline runs in one session must
    release them or storage memory fills and GC drags every later stage.
    """
    spark.catalog.clearCache()
    try:
        jrdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in jrdds.values():
            rdd.unpersist(False)
    except Exception:
        pass


def default_driver_memory() -> str:
    """Driver heap as 60 % of physical RAM: in local mode the driver JVM
    runs every task, and a fixed heap sized for a large host gets the
    process OOM-killed on a small one (48g did, on a 15 GB host)."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf on this platform
        return "4g"
    return f"{int(ram * 0.6) // 2**20}m"


def default_cpus() -> int:
    """Local-mode cores: ``SPARK_GRAFT_CPUS`` when set, else the CPUs this
    process may run on (a fixed core count sized for a large host
    oversubscribes a small one)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def build_session(
    app_name: str = "auth2wd-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bench runs flip SPARK_GRAFT_UI=1: the live UI REST API is how
        # per-phase shuffle read/write bytes reach BENCH/bench_full.json
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "0") == "1" and "true" or "false")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
    )
    # shuffle and spill files: Spark itself puts them in SPARK_LOCAL_DIRS
    # when set, else in its default temp dir (spark.local.dir)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
