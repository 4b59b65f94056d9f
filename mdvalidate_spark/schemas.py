"""The output contract: the violations, metrics and manifest row formats.

This is the only module that knows them (FIXTURES.md §3). violations
mirrors the reference's NodeContentMismatch payload {expected, actual,
kind} (errors.rs:332-341) plus row/rule addressing; metrics is the
long-form analog of the matches-JSON capture object (validator.rs:33-36);
manifest is the resume checkpoint, the analog of NodePosPair
(node_pos_pair.rs:4-52). A ``Report`` carries one frame of each.

Every producer builds its rows through the constructors below: a frame of
driver-built row tuples (``violations_frame``/``metrics_frame``/
``manifest_frame``; empty when no rows), a union of contract frames
(``union_violations``/``union_metrics``; typed-empty when none), a
persisted sink read back in contract order (``read_sink``), and the
Spark-side projections ``violation_columns``/``metric_columns``, whose
keyword arguments are the column names and whose result is the column list
in contract order. In a projection a Column passes through unchanged, a
plain Python value becomes a literal, and None becomes a typed null —
``partition_id`` (a global rule's row) and ``value_str`` default to it.

Every frame the driver builds itself, contract or not, is made by
``local_frame``: the rows become a pyarrow table, column by column with the
schema's Arrow types, and ``createDataFrame`` turns that table into a JVM
``LocalRelation``. A list of rows handed to ``createDataFrame`` would become
a parallelized Python RDD instead, and every action over it would start
``defaultParallelism`` Python worker tasks only to unpickle the rows back
into the JVM — the whole Python-worker cost of a run whose rules have no
UDF. An empty local frame is ``LocalRelation <empty>``, which the optimizer
prunes out of a union. Rows never pass through pandas, which would turn a
NaN into a null; a pandas frame a caller built on purpose is passed through.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

VIOLATIONS_DDL = (
    "run_id string, partition_id int, rule_id string, image_id string, "
    "column string, expected string, actual string, kind string"
)
METRICS_DDL = (
    "run_id string, partition_id int, rule_id string, metric string, "
    "value double, value_str string"
)
MANIFEST_DDL = (
    "run_id string, partition_id int, status string, rows long, "
    "violations long, started_at string, finished_at string, seconds double"
)
#: the per-row violation structs of the fused row pass, before explode
VIOLATION_STRUCT_DDL = (
    "array<struct<rule_id:string,column:string,expected:string,"
    "actual:string,kind:string>>"
)


def local_frame(spark: SparkSession, schema, rows=()) -> DataFrame:
    """A driver-built frame as a JVM local relation: ``schema`` is a DDL
    string or a ``StructType``, ``rows`` are tuples in schema order (or a
    pandas frame, passed through as is)."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if isinstance(rows, pd.DataFrame):
        return spark.createDataFrame(rows, struct)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def violations_frame(spark: SparkSession, rows=()) -> DataFrame:
    """Violations frame of driver-built row tuples in contract order."""
    return local_frame(spark, VIOLATIONS_DDL, rows)


def metrics_frame(spark: SparkSession, rows=()) -> DataFrame:
    """Metrics frame of driver-built row tuples in contract order."""
    return local_frame(spark, METRICS_DDL, rows)


def manifest_frame(spark: SparkSession, rows=()) -> DataFrame:
    """Manifest frame of ``Manifest.rows()``."""
    return local_frame(spark, MANIFEST_DDL, rows)


def _union(spark: SparkSession, ddl: str, frames) -> DataFrame:
    frames = [f for f in frames if f is not None]
    if not frames:
        return local_frame(spark, ddl)
    return reduce(lambda a, b: a.unionByName(b), frames)


def union_violations(spark: SparkSession, frames) -> DataFrame:
    """Union of violations frames (None skipped); typed-empty when none."""
    return _union(spark, VIOLATIONS_DDL, frames)


def union_metrics(spark: SparkSession, frames) -> DataFrame:
    """Union of metrics frames (None skipped); typed-empty when none."""
    return _union(spark, METRICS_DDL, frames)


def _fields(ddl: str) -> list[tuple[str, str]]:
    return [tuple(f.split(" ")) for f in ddl.split(", ")]


def read_sink(spark: SparkSession, ddl: str, path: str) -> DataFrame:
    """A persisted contract frame read with its declared schema, columns in
    contract order: a sink written with ``partitionBy("partition_id")``
    reads that column last."""
    return spark.read.schema(ddl).parquet(path).select(
        *[name for name, _ in _fields(ddl)]
    )


def _columns(ddl: str, values: tuple) -> list[Column]:
    out = []
    for (name, typ), v in zip(_fields(ddl), values):
        if v is None:
            v = F.lit(None).cast(typ)
        elif not isinstance(v, Column):
            v = F.lit(v)
        out.append(v.alias(name))
    return out


def violation_columns(
    *, run_id, rule_id, image_id, column, expected, actual, kind,
    partition_id=None,
) -> list[Column]:
    """One violation row per input row, as columns in contract order."""
    return _columns(
        VIOLATIONS_DDL,
        (run_id, partition_id, rule_id, image_id, column, expected, actual, kind),
    )


def metric_columns(
    *, run_id, rule_id, metric, value, partition_id=None, value_str=None
) -> list[Column]:
    """One metric row per input row, as columns in contract order."""
    return _columns(
        METRICS_DDL, (run_id, partition_id, rule_id, metric, value, value_str)
    )
