"""SchemaRule executor: runtime schema drift → violation rows.

Re-expresses the reference's MalformedNodeStructure family (reference:
src/mdschema/validation/errors.rs:320-397 — MissingChild / ExtraChild /
kind-mismatched node discovered while walking) and the NodeVsNode arity
check (walkers/validators/nodes.rs:174-221) for tables: the expected
structure is the spec's (column → dtype) map, the actual structure is
``df.schema``, and every drifted column becomes ONE violation row.

This is metadata work: the comparison runs on the driver against the
DataFrame's StructType (no Spark job, no scan — schema is known before any
data moves), and the bounded result (≤ #columns rows) materializes via
createDataFrame. At 100 TB this costs exactly as much as at 100 KB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..errors import KIND_DTYPE, KIND_EXTRA_COLUMN, KIND_MISSING_COLUMN
from ..schemas import violations_frame
from ..spec import SchemaRule


def schema_violations(df: DataFrame, rule: SchemaRule, run_id: str) -> DataFrame:
    """Compare df.schema against the rule's expected (name → dtype) map.

    image_id carries the drifted column name (the "row" of a schema check is
    the column itself, like the reference's error span pointing at the node).
    Dtype comparison uses Spark simpleString, so struct-typed columns compare
    their full nested shape.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    expected = dict(rule.expected)

    rows: list[tuple] = []
    for name, want in expected.items():
        got = actual.get(name)
        if got is None:
            rows.append(
                (run_id, None, rule.id, name, name, want, None, KIND_MISSING_COLUMN)
            )
        elif got != want:
            rows.append((run_id, None, rule.id, name, name, want, got, KIND_DTYPE))
    if not rule.allow_extra:
        for name, got in actual.items():
            if name not in expected and name != "partition_id":
                # partition_id is the engine's own bookkeeping column
                rows.append(
                    (run_id, None, rule.id, name, name, None, got, KIND_EXTRA_COLUMN)
                )
    return violations_frame(df.sparkSession, rows)
