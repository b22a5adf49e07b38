"""SparkSession construction tuned for this engine.

Local-mode settings mirror what a cluster deployment would set per-job:
AQE on (runtime re-planning / skew-join handling), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for the pandas-UDF slow path,
UTC session timezone so timestamp semantics are stable across engines.
Every Python process Spark launches gets ``OMP_NUM_THREADS`` = task cpus, as
UDF workers already do, so numpy's BLAS pool (imported via pyarrow by each
stream query's source runner) starts one thread, not one per core.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_package_pythonpath() -> None:
    """Make the engine package importable inside Python WORKERS regardless
    of the driver's cwd. Pandas-UDF closures can reference module-level
    helpers (cloudpickle serializes those by module+name, not by value), and
    the worker daemon resolves imports from its own environment — which in
    local mode is the env the JVM inherited at launch, NOT the driver's
    ``sys.path``. Without this, any run whose cwd is outside the repo dies
    in ``read_udfs`` with ModuleNotFoundError; on a real cluster this is the
    local-mode analog of shipping the package to executors (--py-files /
    pip-installed env). Must run BEFORE the JVM starts."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )


# single source of truth for the heap fallback: bench_isolated stamps the
# resolved value into its artifacts, so a drift between the stamp and the
# session default would record the wrong heap for unset-env runs
DEFAULT_DRIVER_MEMORY = "8g"


def get_spark(
    app_name: str = "sqlserver-cdc-to-kafka-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _export_package_pythonpath()
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    task_cpus = (extra_conf or {}).get("spark.task.cpus", "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # call-site capture: 50 when().alias() columns took 1,955 py4j commands, not 455
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # reaches the JVM's Python processes only, not this driver's os.environ
        .config("spark.executorEnv.OMP_NUM_THREADS", task_cpus)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY),
        )
    )
    # probe hooks (e.g. the straggler probe's event log) — applied last so a
    # probe can also override a default knob deliberately
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
