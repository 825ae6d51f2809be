"""media_ref referential integrity via a catalog-membership join.

The reference's membership filter (``isin`` semi-join, preprocessing.py:
7-10) keeps the members and silently drops the rest; this engine's
referential constraint materializes the complement (T2 in SURVEY §2.7):
spans whose non-null ``media_ref`` has no match in ``media_assets`` become
violation rows ``(doc_id, pos, media_ref)``.

Scale design: the catalog is the small side — ``F.broadcast`` keeps the
join shuffle-free regardless of the fact side's size. The suite needs the
dangling count AND the dangling rows from one span pass, so its join is
a left join onto the distinct catalog ids (a membership flag per span)
rather than a left-anti join; ``dangling_refs`` keeps the anti-join for
callers that want only the rows. If the catalog outgrows broadcast (multi-GB), drop the hint;
AQE plans a shuffled sort-merge join with skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators.grain import SPANS, Part, fuse

CONSTRAINT = "referential"


def dangling_refs(exploded: DataFrame, media: DataFrame, broadcast: bool = True) -> DataFrame:
    """Span rows whose media_ref is absent from the catalog."""
    refs = exploded.filter(F.col("media_ref").isNotNull())
    catalog = media.select("media_ref")
    if broadcast:
        catalog = F.broadcast(catalog)
    return refs.join(catalog, "media_ref", "left_anti")


def part(media: DataFrame, broadcast: bool = True) -> Part:
    """referential as a fused-plan part (operators/grain.py): the distinct
    catalog ids are left-joined onto the span view as a membership flag —
    one pass yields the dangling count (a conditional sum in the
    span-grain aggregate) and the dangling rows (a span tag). With an
    empty catalog AQE drops the join at run time."""
    catalog = media.select("media_ref").distinct().withColumn("_in_catalog", F.lit(True))
    has_ref = F.col("media_ref").isNotNull()
    dangling = has_ref & F.col("_in_catalog").isNull()
    vc = F.col("n_dangling")
    return Part(
        CONSTRAINT,
        SPANS,
        (
            vc == 0,
            vc,
            F.col("n_spans"),
            F.create_map(
                F.lit("dangling_ref_rate"),
                F.when(F.col("n_refs") > 0, vc / F.col("n_refs")).otherwise(F.lit(0.0)),
            ),
        ),
        span_aggs={
            "n_refs": F.sum(F.when(has_ref, 1).otherwise(0)).cast("long"),
            "n_dangling": F.sum(F.when(dangling, 1).otherwise(0)).cast("long"),
        },
        span_tag=(dangling, F.concat(F.lit("dangling media_ref="), F.col("media_ref"))),
        span_lookup=("media_ref", catalog),
        broadcast_lookup=broadcast,
    )


def check(
    exploded: DataFrame, media: DataFrame, broadcast: bool = True
) -> tuple[DataFrame, DataFrame]:
    """referential constraint → (verdicts, violations)."""
    fused = fuse(None, exploded, [part(media, broadcast)])
    return fused.verdicts, fused.violations
