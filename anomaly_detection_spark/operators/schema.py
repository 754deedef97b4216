"""Schema validation — the "schema" half of the schema + constraint
validation engine (north rule). The reference validates shape per record
(``check_ftr_vector``'s arity/type checks,
/root/reference/src/algorithms/anomaly_detection.py:204-263); at table
scale the same contract splits into:

* metadata-level: the table's schema vs an expected spec (names, types,
  nullability, column order) — driver-side, zero scan;
* data-level: per-column completeness (null-rate) and castability
  verdicts — one hash aggregate over the scan.

Both emit the engine's standard codes (OK=1 / Warning=0 / Error=-1) so
schema findings compose with every other check in a suite.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomaly_detection_spark.session import local_frame


@dataclass
class ColumnSpec:
    name: str
    dtype: str                 # simpleString form, e.g. "bigint", "string"
    nullable: bool = True
    required: bool = True
    max_null_rate: float | None = None


@dataclass
class SchemaSpec:
    columns: list[ColumnSpec]
    allow_extra: bool = True
    ordered: bool = False
    extras: dict = field(default_factory=dict)

    @classmethod
    def from_ddl(cls, ddl: str, **kw) -> "SchemaSpec":
        struct = T.StructType.fromDDL(ddl)
        return cls(columns=[
            ColumnSpec(f.name, f.dataType.simpleString(), f.nullable)
            for f in struct.fields
        ], **kw)


def schema_findings(df: DataFrame, spec: SchemaSpec) -> list[dict]:
    """Metadata diff: one finding per violation, each with the standard
    status code. No Spark jobs run."""
    actual = {f.name: f for f in df.schema.fields}
    order = [f.name for f in df.schema.fields]
    findings = []
    for i, col in enumerate(spec.columns):
        if col.name not in actual:
            if col.required:
                findings.append({"column": col.name, "kind": "missing",
                                 "detail": "required column absent",
                                 "code": -1})
            continue
        f = actual[col.name]
        if f.dataType.simpleString() != col.dtype:
            findings.append({
                "column": col.name, "kind": "type_mismatch",
                "detail": f"expected {col.dtype}, "
                          f"got {f.dataType.simpleString()}",
                "code": -1})
        if not col.nullable and f.nullable:
            findings.append({"column": col.name, "kind": "nullability",
                             "detail": "declared nullable but spec requires "
                                       "not-null",
                             "code": 0})
        if spec.ordered and i < len(order) and order[i] != col.name:
            findings.append({"column": col.name, "kind": "order",
                             "detail": f"expected at position {i}, "
                                       f"found {order[i]!r}",
                             "code": 0})
    if not spec.allow_extra:
        expected = {c.name for c in spec.columns}
        for name in order:
            if name not in expected:
                findings.append({"column": name, "kind": "extra",
                                 "detail": "unexpected column", "code": 0})
    return findings


def schema_code(df: DataFrame, spec: SchemaSpec) -> int:
    """Single verdict: -1 if any error finding, 0 if only warnings, 1 clean."""
    findings = schema_findings(df, spec)
    if any(f["code"] == -1 for f in findings):
        return -1
    return 0 if findings else 1


_COMPLETENESS_SCHEMA = (
    "column string, null_rate double, max_null_rate double, code int")


def completeness_check(df: DataFrame, spec: SchemaSpec) -> DataFrame:
    """Data-level: per-column null-rate verdicts for every spec column
    with a ``max_null_rate``. ONE aggregate over the scan regardless of
    column count (all rates in a single hash-agg row)."""
    cols = [c for c in spec.columns
            if c.max_null_rate is not None and c.name in df.columns]
    if not cols:
        return local_frame(df.sparkSession, [], _COMPLETENESS_SCHEMA)
    aggs = [F.avg(F.col(c.name).isNull().cast("double")).alias(c.name)
            for c in cols]
    row = df.agg(*aggs).first()
    out = [(c.name, float(row[c.name] or 0.0), c.max_null_rate,
            -1 if (row[c.name] or 0.0) > c.max_null_rate else 1)
           for c in cols]
    return local_frame(df.sparkSession, out, _COMPLETENESS_SCHEMA)
