"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), broadcast threshold generous enough to
keep dimension joins shuffle-free, Arrow enabled for the sanctioned
pandas_udf extension point, and UTC session time (reference runs Airflow
with ``default_timezone = utc``, airflow.cfg:43).

VERSION PIN: written and tested against PySpark 4.1.x (the container's
baked-in build). Known 4.1-sensitive surfaces, each localized with a
comment at the use site: the ``_jdf`` plan-stats reach-in
(operators/neardup.py:_plan_size_bytes — guarded, safe fallback) and
the ``PythonSQLUtils.explainString`` call in the plan tests/audit, and
:func:`local_frame`'s reuse of ``pyspark.sql.types._make_type_verifier``
and ``_create_converter`` (the row check and dict/Row/tuple → tuple
step ``createDataFrame(rows, schema)`` runs) plus
``pyspark.sql.pandas.types.to_arrow_schema``. Everything else is public
DataFrame API.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier


def get_spark(
    app_name: str = "reddit-apache-airflow-postgres-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller leaves it None and spark-submit supplies it.
    ``shuffle_partitions`` defaults to the local core count — on a cluster
    set it to 2-3x total executor cores (AQE coalesces the excess).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing + skew-join handling — the
        # first line of defense for hot keys at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Default advisory size (64m) coalesces small-but-CPU-heavy
        # shuffles (shingle joins, vector math) down to ONE task; 8m keeps
        # them parallel while still batching genuinely tiny exchanges.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        # Arrow for pandas_udf / mapInPandas (vectors, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the Python call site for every DataFrame
        # API call when this is on (the default): getActiveSession +
        # conf.get + origin set/clear = ~4 extra py4j round trips PER
        # CALL, plus a Python traceback walk. Measured on q_sim_sq8
        # construction: 11,683 -> 3,673 round trips with it off. Pure
        # driver-side instrumentation — plans, results and executor
        # work are unchanged; only error messages lose the "called at
        # <file>:<line>" DataFrame context. (guide §5: the driver
        # should do almost no work; query CONSTRUCTION is driver work.)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Keep small-dim joins broadcast (region/nation/supplier style).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Stable timestamp behavior for the DuckDB oracle comparison.
        .config("spark.sql.datetime.java8API.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """Driver-resident ``rows`` (dicts, tuples or ``Row``s) as a
    DataFrame of ``schema`` (a ``StructType`` or DDL string) — the one
    rows → DataFrame door of the package.

    Every row first passes PySpark's own verifier, the check
    ``createDataFrame(rows, schema)`` runs, so a value that call
    rejects is still rejected (bare pyarrow is looser: it takes ``1.0``
    for an int column and ``5`` for a double one). The rows then cross
    to the JVM as one Arrow table and plan as a ``LocalTableScan``:
    no Python worker runs to scan or broadcast it.
    ``createDataFrame(list)`` instead pickles them into a Python RDD
    (``Scan ExistingRDD``) whose every partition starts a Python
    worker: ~0.17 s of executor time per partition on a 4-core host,
    even for tens of rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    to_tuple = _create_converter(schema)
    tuples = []
    for row in rows:
        verify(row)
        tuples.append(to_tuple(row))
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*tuples) if tuples else ([] for _ in arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
