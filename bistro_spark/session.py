"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the north-rule workload (wide fact table of
pre-tokenized sequences, skewed ``source`` key, Arrow-heavy UDF paths):

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- explicit shuffle-partition count sized to the local core budget
  (on a real cluster: ~2-3x total executor cores),
- Arrow enabled for pandas UDF exchange with a bounded batch size so
  512-element int32 token arrays don't blow executor memory,
- broadcast threshold high enough that dimension tables (sources, date
  ranges) always broadcast instead of shuffling the fact side.

Driver-side rows enter a plan only through :func:`local_frame`, as a JVM
``LocalRelation``.
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampType,
)


def get_spark(
    master: str | None = None,
    app_name: str = "bistro_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults applied."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = _parse_local_cores(master)
    if shuffle_partitions is None:
        # 1x cores locally: local mode has no executor skew to smooth over,
        # and fewer partitions = less scheduling overhead at test scale.
        # On a cluster this should be 2-3x total cores (set via extra_conf).
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("BISTRO_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _parse_local_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """Driver-side rows as a DataFrame over a JVM ``LocalRelation``.

    A Python list handed to ``createDataFrame`` becomes a Python-RDD scan,
    so every job that reads it starts Python workers just to produce a
    constant. An Arrow table becomes a ``LocalRelation`` instead: the rows
    travel with the plan and are scanned inside the JVM, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, empty input
    included.

    ``rows`` are tuples or ``Row``s (positional) or dicts (by field name);
    ``schema`` is a DDL string or a ``StructType``. Naive ``datetime``s in
    timestamp columns are read as process-local time, as the Python-list
    path reads them (``collect()`` hands timestamps back that way).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    names = schema.names
    table_rows = []
    for r in rows:
        r = tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)
        if len(r) != len(names):
            raise ValueError(
                f"local_frame: row of {len(r)} values for {len(names)} columns"
            )
        table_rows.append(r)
    columns = list(zip(*table_rows)) or [()] * len(names)
    arrow = to_arrow_schema(schema)
    arrays = []
    for col, f, af in zip(columns, schema.fields, arrow):
        if "timestamp" in f.dataType.simpleString():
            col = [_instants(v, f.dataType) for v in col]
        arrays.append(pa.array(col, type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, schema)


def _instants(v, dt: DataType):
    """``v`` with every naive datetime under ``dt`` read as process-local
    time and pinned to a UTC instant."""
    if v is None:
        return None
    if isinstance(dt, TimestampType):
        return v.astimezone(timezone.utc) if v.tzinfo is None else v
    if isinstance(dt, ArrayType):
        return [_instants(x, dt.elementType) for x in v]
    if isinstance(dt, MapType):
        items = v.items() if isinstance(v, dict) else v
        return [
            (_instants(k, dt.keyType), _instants(x, dt.valueType))
            for k, x in items
        ]
    if isinstance(dt, StructType):
        if isinstance(v, dict):
            v = [v.get(n) for n in dt.names]
        return {f.name: _instants(x, f.dataType) for f, x in zip(dt.fields, v)}
    return v
