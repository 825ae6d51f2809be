"""schema constraint: structural conformance of the batch to its contract.

The north-star engine is a *schema* + constraint checker; every other
constraint assumes the columns it reads exist with the right types. This
operator makes that assumption an explicit, declarative check — the Deequ
``hasDataType``/column-presence class, and the read-side half of the
docstore's name-based evolution rules (sources/docstore.py): missing
columns, unexpected columns, type mismatches, and nullability regressions
are detected and reported as verdict/violation rows like any other
constraint.

Two modes:

- ``strict``     — exact name/type/nullability equality (order-free).
- ``compatible`` — the evolution-safe reading: a missing column is fine
  if the contract marks it nullable (readers NULL-fill), an actual
  column may be STRICTER than the contract (non-null where nullable is
  allowed), and lossless type widenings (int→long, float→double,
  int/long→double) pass. Extra columns still flag: data the contract
  doesn't know is a contract violation for a validator, never silently
  blessed.

Struct fields (e.g. ``spans`` elements) are checked recursively with the
same rules; array element types recurse through their element.

Scale design: the structural diff reads ``df.schema`` — DRIVER-side
metadata, zero executor work, zero scans. Only the per-partition verdict
fan-out touches the cluster, and with ``expected_partitions`` (the resume
planner's metadata list) even that is a |partitions|-sized local frame —
the constraint can pass or fail a 100 TB table without reading a byte of
it. ``conform`` is one ``select`` (column pruning + casts Catalyst folds
into the scan)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomalydetection_spark.operators.grain import PARTS, Part, fuse

CONSTRAINT = "schema"

# lossless widenings accepted in compatible mode (actual → expected)
_WIDENINGS = {
    ("int", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("float", "double"),
    ("int", "double"),
    ("bigint", "double"),
}


@dataclass(frozen=True)
class SchemaThresholds:
    mode: str = "compatible"  # 'strict' | 'compatible'


def _type_ok(actual: T.DataType, expected: T.DataType, mode: str, path: str, issues: list[str]) -> None:
    if isinstance(expected, T.StructType) and isinstance(actual, T.StructType):
        _diff_structs(actual, expected, mode, path, issues)
        return
    if isinstance(expected, T.ArrayType) and isinstance(actual, T.ArrayType):
        _type_ok(actual.elementType, expected.elementType, mode, f"{path}[]", issues)
        return
    a, e = actual.simpleString(), expected.simpleString()
    if a == e:
        return
    if mode == "compatible" and (a, e) in _WIDENINGS:
        return
    issues.append(f"type mismatch at {path}: expected {e}, got {a}")


def _diff_structs(
    actual: T.StructType, expected: T.StructType, mode: str, prefix: str, issues: list[str]
) -> None:
    a_fields = {f.name: f for f in actual.fields}
    for ef in expected.fields:
        path = f"{prefix}.{ef.name}" if prefix else ef.name
        af = a_fields.pop(ef.name, None)
        if af is None:
            if mode == "strict" or not ef.nullable:
                issues.append(f"missing column {path}")
            continue
        _type_ok(af.dataType, ef.dataType, mode, path, issues)
        if af.nullable and not ef.nullable:
            issues.append(f"nullability regression at {path}: contract requires non-null")
        elif mode == "strict" and af.nullable != ef.nullable:
            issues.append(f"nullability mismatch at {path}")
    for name in sorted(a_fields):
        issues.append(f"unexpected column {prefix + '.' if prefix else ''}{name}")


def diff_schemas(actual: T.StructType, expected: T.StructType, mode: str = "compatible") -> list[str]:
    """Structural issues of ``actual`` vs the ``expected`` contract, as
    deterministic sorted strings (contract-field order, then extras
    alphabetically) — empty ⇔ conformant under ``mode``."""
    if mode not in ("strict", "compatible"):
        raise ValueError(f"unknown schema mode: {mode!r}")
    issues: list[str] = []
    _diff_structs(actual, expected, mode, "", issues)
    return issues


def relax_nullability(schema: T.DataType) -> T.DataType:
    """The schema with every field nullable, recursively — the right
    DEFAULT contract: parquet scans and reconstructed frames routinely
    lose non-null flags, so a contract that insists on them would flag
    every healthy batch. Callers that truly enforce non-null columns pass
    their own strict contract."""
    if isinstance(schema, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, relax_nullability(f.dataType), True)
                for f in schema.fields
            ]
        )
    if isinstance(schema, T.ArrayType):
        return T.ArrayType(relax_nullability(schema.elementType), True)
    return schema


def part(
    actual_schema: T.StructType,
    expected_schema: T.StructType,
    th: SchemaThresholds = SchemaThresholds(),
) -> Part:
    """schema as a fused-plan part (operators/grain.py): the structural
    diff runs driver-side, so the verdict and the issue list are literals
    fanned out over the partition rows — no aggregate of its own."""
    issues = diff_schemas(actual_schema, expected_schema, th.mode)
    return Part(
        CONSTRAINT,
        PARTS,
        (
            F.lit(not issues),
            F.lit(len(issues)),
            F.lit(0),
            F.create_map(
                F.lit("n_issues"), F.lit(float(len(issues))),
                F.lit("strict"), F.lit(1.0 if th.mode == "strict" else 0.0),
            ),
        ),
        key_rows=F.array(*[F.lit(s) for s in issues]) if issues else None,
    )


def check(
    docs: DataFrame,
    expected_schema: T.StructType,
    th: SchemaThresholds = SchemaThresholds(),
    expected_partitions: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """schema constraint → (verdicts, violations), suite row shapes.

    The verdict fact is table-global (a schema is per batch, not per
    partition) but is EMITTED per partition so downstream idempotent
    per-partition writes and the rollup keep working; row_count is 0 —
    the check reads metadata, never rows. Violations carry one row per
    structural issue per partition (|partitions|·|issues|-bounded)."""
    fused = fuse(docs, None, [part(docs.schema, expected_schema, th)], expected_partitions)
    return fused.verdicts, fused.violations


def conform(df: DataFrame, expected_schema: T.StructType, mode: str = "compatible") -> DataFrame:
    """Reshape ``df`` to the contract: project the contract's columns in
    contract order, NULL-fill missing nullable columns, apply lossless
    widenings, DROP extras — and fail loudly (never silently coerce) on
    anything ``diff_schemas`` would flag other than extra columns.

    One ``select`` of column expressions: pruning + casts reach the scan,
    so conforming a petabyte table costs what reading the kept columns
    costs."""
    issues = [
        i
        for i in diff_schemas(df.schema, expected_schema, mode)
        if not i.startswith("unexpected column")
    ]
    if issues:
        raise ValueError(f"cannot conform: {issues}")
    actual = {f.name: f for f in df.schema.fields}
    cols = []
    for ef in expected_schema.fields:
        if ef.name not in actual:
            cols.append(F.lit(None).cast(ef.dataType).alias(ef.name))
        elif actual[ef.name].dataType.simpleString() != ef.dataType.simpleString():
            cols.append(F.col(ef.name).cast(ef.dataType).alias(ef.name))
        else:
            cols.append(F.col(ef.name))
    return df.select(*cols)
