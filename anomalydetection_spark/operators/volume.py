"""volume constraint: per-partition document-count bounds.

The Deequ ``hasSize`` class of check, partition-scoped: each Iceberg
partition must land between ``min_docs`` and ``max_docs`` documents.
Single-column stats can't see this failure mode — a partition that
half-arrived (upstream job died mid-write) or doubled (producer replayed
its input) has perfectly healthy per-value statistics; only its SIZE is
wrong. The reference's analog is its row-count-equality guards before
positional joins (end_to_end_prediction.py:507, 514): a cardinality
expectation checked explicitly, promoted here to a declarative per-
partition constraint.

``expected_partitions`` closes the blind spot a groupBy alone has: a
partition that never arrived produces NO group, so absence is invisible
to the aggregate. Passing the expected partition list (from the manifest
or the Iceberg partition metadata — the resume planner already derives
exactly this, plans/manifest.py) emits an n_docs=0 FAIL row for every
missing partition.

Scale shape: one hash aggregate over the narrowest possible projection
(the partition column alone — Parquet/Iceberg reads one column, and the
count is metadata-answerable for formats that expose it), map-side
partials absorb the per-partition fan-in; the expected-list join is
|partitions|-sized. No windows, no Python.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators.grain import PARTS, Part, fuse, n_rows

CONSTRAINT = "volume"


@dataclass(frozen=True)
class VolumeThresholds:
    min_docs: int = 1
    max_docs: int | None = None


def part(th: VolumeThresholds = VolumeThresholds()) -> Part:
    """volume as a fused-plan part (operators/grain.py): reads only the
    doc grain's ``n_docs``; its rows cover the expected partition list
    when one is given (an absent partition counts n_docs=0).

    Violations are PARTITION-level (doc_id/pos NULL, like frequent_items'
    hot-key rows): one row per out-of-bounds partition, so the violation
    sink stays |partitions|-bounded however wrong the counts are."""
    n = F.coalesce(F.col("n_docs"), F.lit(0)).cast("long")
    ok = n >= F.lit(int(th.min_docs))
    if th.max_docs is not None:
        ok = ok & (n <= F.lit(int(th.max_docs)))
    hi = "inf" if th.max_docs is None else str(int(th.max_docs))
    detail = F.format_string(
        "partition volume %d outside [%d, %s]", n, F.lit(int(th.min_docs)), F.lit(hi)
    )
    return Part(
        CONSTRAINT,
        PARTS,
        (
            ok,
            F.when(ok, F.lit(0)).otherwise(F.lit(1)),
            n,
            F.create_map(
                F.lit("n_docs"), n.cast("double"),
                F.lit("min_docs"), F.lit(float(th.min_docs)),
                F.lit("max_docs"), F.lit(float(th.max_docs) if th.max_docs is not None else float("inf")),
            ),
        ),
        doc_aggs={"n_docs": n_rows()},
        key_rows=F.array_compact(F.array(F.when(~ok, detail))),
    )


def check(
    docs: DataFrame,
    th: VolumeThresholds = VolumeThresholds(),
    expected_partitions: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """volume constraint → (verdicts, violations)."""
    fused = fuse(docs, None, [part(th)], expected_partitions)
    return fused.verdicts, fused.violations
