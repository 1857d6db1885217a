"""SparkSession builder with scale-conscious defaults.

Tuned for the 100 TB design point (SURVEY.md §7): AQE on (runtime
re-planning, skew-join splitting, partition coalescing), CBO on so the
stats-driven join reordering the reference did by hand (selectivity
reordering of triple patterns, SURVEY.md §2 A7) is also done by Catalyst,
Arrow enabled for the few Pandas-UDF operators.

Locally we run ``local[$SPARK_GRAFT_CPUS]``; on a real cluster only
``master`` changes — the confs below are master-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "d-sparq-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join handling, plan switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CBO so ANALYZE'd stats drive join reordering (reference A7).
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the pandas_udf / applyInPandas slow-path operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic session timezone so timestamp results are stable
        # and comparable with the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No DataFrame call-site capture: with it on, every
        # pyspark.sql.functions / Column call pays extra Py4J round
        # trips (active session, conf, origin set/clear). The cost:
        # DataFrame errors no longer name the Python line that built the
        # failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Make d_sparq_spark importable on executor Python workers.

    Functions referenced by Python UDFs (mapInPandas/applyInPandas) are
    cloudpickled BY REFERENCE to their module; if the driver process was
    started outside the repo (the harness does this), workers raise
    ModuleNotFoundError. Zipping the package once per session and
    addPyFile-ing it fixes every such path, local or cluster."""
    sc = spark.sparkContext
    if getattr(sc, "_d_sparq_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # unique per-process path: a fixed shared name races a concurrent
    # driver on the same host (its rewrite truncates the zip mid-fetch
    # for this session's executors — review r4 wave 7)
    import uuid

    zip_path = os.path.join(
        "/tmp", f"d_sparq_spark_pkg_{os.getpid()}_{uuid.uuid4().hex[:8]}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "d_sparq_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._d_sparq_shipped = True


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Reuse an active session when one exists (the driver passes its own)."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
