"""SparkSession construction and per-session normalization.

Two entry points:

- ``get_spark()`` builds a local session tuned for the test harness
  (local[N], shuffle partitions ~= cores, AQE on).
- ``prep_session(spark)`` normalizes a session we did NOT build (the
  driver passes its own) — runtime-settable confs only.

Scale posture: every conf set here is either runtime-settable or a
local-mode default that a real cluster would override via spark-submit.
The engine itself never assumes local mode.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(app_name: str = "cod_stats_spark", cpus: int | None = None) -> SparkSession:
    """Build a local SparkSession tuned for this workload.

    On a real cluster these become spark-submit confs; the values that
    matter at 100 TB (AQE, skew join, partition coalescing, broadcast
    threshold) are enabled the same way.
    """
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # 32 MB G1 regions: array-heavy rows (shingle sets, bucket
        # collect_lists, cached batches) allocate multi-MB arrays; at
        # default region sizes (1 MB on a 2 GB heap) every >512 KB
        # array is a "humongous" allocation, and churning those under
        # JNI critical sections (native parquet reads) triggers G1's
        # GCLocker retry pathology — measured OOM-without-exhaustion
        # in the r8 forced-spill audit (SCALING.md). Bigger regions
        # make those allocations ordinary; on executors this is the
        # same flag via spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bound plan-string rendering (default ~2 GB): AQE re-renders
        # an explain string on EVERY stage update
        # (AdaptiveSparkPlanExec.onUpdatePlan), and the funnel
        # composition's plans are large enough that unbounded
        # rendering both burns driver CPU per stage and can OOM the
        # driver heap outright (r16: java.lang.OutOfMemoryError inside
        # QueryExecution.explainString during a funnel shard write —
        # guide §5, the driver should do almost no data work; 1 MB
        # keeps real diagnostics readable)
        .config("spark.sql.maxPlanStringLength", str(1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_SHIP_LOCK = threading.Lock()
_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make `cod_stats_spark` importable on every Python worker.

    Closures that reference module-level functions (mapInPandas decode,
    stateful operators) are pickled BY REFERENCE — workers must import
    the module, and the driver's sys.path does not propagate to them.
    Shipping a zip via addPyFile fixes this regardless of the driver's
    cwd/PYTHONPATH.

    Ships once per SparkContext (keyed on its applicationId, so every
    ``newSession()`` of one context shares it), under a lock: callers
    on pool threads wait for the one archive instead of racing to add
    a second. Each archive goes to its own ``mkdtemp`` directory — a
    shared fixed path let one process overwrite a zip another had
    already added, and executors then refused the changed file.
    """
    import atexit
    import shutil
    import tempfile

    sc = spark.sparkContext
    with _SHIP_LOCK:
        app = sc.applicationId
        if app in _SHIPPED_APPS:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        try:
            tmp = tempfile.mkdtemp(prefix="cod_stats_spark_")
            atexit.register(shutil.rmtree, tmp, ignore_errors=True)
            archive = shutil.make_archive(
                os.path.join(tmp, "cod_stats_spark_pkg"),
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir="cod_stats_spark",
            )
            sc.addPyFile(archive)
            _SHIPPED_APPS.add(app)
        except Exception:
            # non-fatal: driver-side-only plans still work
            pass


def prep_session(spark: SparkSession) -> SparkSession:
    """Normalize runtime-settable confs on an externally built session.

    The oracle comparison (DuckDB) assumes UTC timestamps and non-ANSI
    SQL semantics (x/0 -> NULL, silent casts) — the dialect the
    reference engine uses (SURVEY.md §7.4.2).
    """
    ship_package(spark)
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.ansi.enabled", "false")
    conf.set("spark.sql.adaptive.enabled", "true")
    # bound AQE's per-stage-update plan rendering (see get_spark)
    try:
        conf.set("spark.sql.maxPlanStringLength", str(1024 * 1024))
    except Exception:
        pass
    try:
        ncores = spark.sparkContext.defaultParallelism
        conf.set("spark.sql.shuffle.partitions", str(max(ncores, 8)))
    except Exception:
        pass
    return spark
