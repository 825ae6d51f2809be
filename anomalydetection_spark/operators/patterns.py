"""pattern + cross_column constraints: value-format and field-consistency
checks over the span table.

``pattern``: every non-null ``media_ref`` must match the catalog's id
format (a configurable regex). A crawler or producer that starts emitting
refs in a new scheme corrupts downstream joins even while referential
integrity still *mostly* holds — a format check localizes the cause
(malformed id) instead of reporting the symptom (dangling ref), and
catches malformed ids that happen to collide with valid catalog entries.
The reference gets format safety implicitly from its fixed 9-field
positional parse (drain.py:26-43, under-filled rows blanked); a
declarative engine must check it explicitly.

``cross_column``: the span ``kind`` determines which payload fields may
be set — media kinds must carry ``media_ref``, texty kinds must not, and
``kind`` itself must come from the known domain. This is the Deequ
"satisfies"/TFX feature-presence class of constraint: inter-field
consistency that single-column stats can never see (a NULL media_ref is
fine on a text span and fatal on an image span).

Both run on the narrow exploded meta view (kind + media_ref leaves only
— the parquet scan skips the text leaf, same pruning contract as
referential/frequent_items) and follow the suite's (verdicts,
violations) shape: a conditional sum in the span-grain aggregate
(operators/grain.py) and a span tag, violation rows bounded by
offenders, no extra shuffle of the span table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators.grain import SPANS, Part, fuse

PATTERN_CONSTRAINT = "pattern"
CROSS_CONSTRAINT = "cross_column"

MEDIA_KINDS = ("image", "audio", "video")
TEXT_KINDS = ("text", "code")
KIND_DOMAIN = MEDIA_KINDS + TEXT_KINDS


@dataclass(frozen=True)
class PatternThresholds:
    # default matches both the synthetic catalog (m-%08d) and the derived
    # flagship catalog (m-%05d)
    ref_pattern: str = r"^m-[0-9]{5,8}$"


def _rate_verdict(count_col: str, rate_metric: str) -> tuple:
    """(passed, violation_count, row_count, metrics) of a per-span
    predicate constraint: its violations over the partition's spans."""
    vc = F.col(count_col)
    return (
        vc == 0,
        vc,
        F.col("n_spans"),
        F.create_map(
            F.lit(rate_metric),
            F.when(F.col("n_spans") > 0, vc / F.col("n_spans")).otherwise(F.lit(0.0)),
        ),
    )


def pattern_part(th: PatternThresholds = PatternThresholds()) -> Part:
    """pattern as a fused-plan part (operators/grain.py): non-null
    media_refs failing the format regex."""
    bad = F.col("media_ref").isNotNull() & ~F.col("media_ref").rlike(th.ref_pattern)
    return Part(
        PATTERN_CONSTRAINT,
        SPANS,
        _rate_verdict("n_malformed", "malformed_ref_rate"),
        span_aggs={"n_malformed": F.sum(F.when(bad, 1).otherwise(0)).cast("long")},
        span_tag=(bad, F.concat(F.lit("malformed media_ref="), F.col("media_ref"))),
    )


def pattern_check(
    exploded: DataFrame, th: PatternThresholds = PatternThresholds()
) -> tuple[DataFrame, DataFrame]:
    """pattern constraint → (verdicts, violations): non-null media_refs
    failing the format regex become violation rows."""
    fused = fuse(None, exploded, [pattern_part(th)])
    return fused.verdicts, fused.violations


def _inconsistent(kind: Column, media_ref: Column) -> Column:
    # NULL kind must be flagged too: a bare `~isin` evaluates to NULL (not
    # true) for NULL kind and the filter would silently drop the row, while
    # the pandas oracle (isin→False on NaN) flags it.
    return (
        (kind.isin(*MEDIA_KINDS) & media_ref.isNull())
        | (kind.isin(*TEXT_KINDS) & media_ref.isNotNull())
        | kind.isNull()
        | ~kind.isin(*KIND_DOMAIN)
    )


def cross_column_part() -> Part:
    """cross_column as a fused-plan part (operators/grain.py):
    kind-vs-media_ref consistency plus the kind domain check."""
    detail = (
        F.when(
            F.col("kind").isNull() | ~F.col("kind").isin(*KIND_DOMAIN),
            F.concat(F.lit("unknown kind="), F.coalesce("kind", F.lit("NULL"))),
        )
        .when(
            F.col("media_ref").isNull(),
            F.concat(F.lit("media span missing media_ref (kind="), "kind", F.lit(")")),
        )
        .otherwise(
            F.concat(
                F.lit("text span carries media_ref="),
                "media_ref",
                F.lit(" (kind="),
                "kind",
                F.lit(")"),
            )
        )
    )
    bad = _inconsistent(F.col("kind"), F.col("media_ref"))
    return Part(
        CROSS_CONSTRAINT,
        SPANS,
        _rate_verdict("n_inconsistent", "inconsistent_rate"),
        span_aggs={"n_inconsistent": F.sum(F.when(bad, 1).otherwise(0)).cast("long")},
        span_tag=(bad, detail),
    )


def cross_column_check(exploded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """cross_column constraint → (verdicts, violations): kind-vs-media_ref
    consistency plus the kind domain check."""
    fused = fuse(None, exploded, [cross_column_part()])
    return fused.verdicts, fused.violations


def fused_check(
    exploded: DataFrame,
    th: PatternThresholds = PatternThresholds(),
    persist: bool = True,
) -> dict[str, tuple[DataFrame, DataFrame]]:
    """pattern + cross_column in ONE scan of the span table.

    Run separately, each constraint scans the narrow meta view twice (its
    violation filter and its per-partition totals). Here both share one
    span-grain aggregate (two conditional sums) and one tagged pass whose
    violation frame is persisted when ``persist`` (violation-bounded, not
    span-bounded), so both constraints' violation sets filter the same
    cached rows. Outputs are row-identical to the per-constraint builders.

    Returns {constraint: (verdicts, violations)}.
    """
    fused = fuse(None, exploded, [pattern_part(th), cross_column_part()])
    both = fused.violations
    if persist:
        from pyspark.storagelevel import StorageLevel

        both = both.persist(StorageLevel.MEMORY_AND_DISK)
    return {
        c: (
            fused.verdicts.filter(F.col("constraint") == c),
            both.filter(F.col("constraint") == c),
        )
        for c in (PATTERN_CONSTRAINT, CROSS_CONSTRAINT)
    }
