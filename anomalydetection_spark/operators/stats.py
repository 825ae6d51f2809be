"""Per-partition column statistics constraint.

Generalizes the reference's feature-matrix summary (count / n_features /
mean / std / min / max, mlflow_utils.py:71-97) and its null filter
(feature_extraction.py:79) into declarative per-Iceberg-partition column
stats with pass/fail thresholds:

- doc level: row count, empty-span rate, spans-per-doc mean/max
- span level: per-kind counts, null-text rate on text/code spans,
  span text-length count/mean/stddev/min/max/p50/p95

Scale design: ONE explode + ONE hash aggregate per level. All metrics are
conditional aggregates inside a single ``groupBy(partition_id)`` — Spark
plans a partial (map-side) + final agg, so the shuffle carries one row per
(partition_id × metric-set), not per span. Exact ``percentile`` matches
NumPy's linear interpolation (reference end_to_end_prediction.py:447); at
10^12-row scale swap to ``percentile_approx`` / the t-digest sketch path
(operators/tdigest.py) via ``exact_quantiles=False``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators.grain import DOCS, Part, fuse

CONSTRAINT = "column_stats"


@dataclass(frozen=True)
class StatsThresholds:
    max_null_text_rate: float = 0.05   # share of text/code spans with NULL text
    max_empty_spans_rate: float = 0.05
    min_rows: int = 1
    exact_quantiles: bool = True       # False → percentile_approx at scale
    # opt-in shape moments (operators/moments.py): adds text_len_skewness /
    # text_len_kurtosis to the verdict metrics map — report-only signals
    # for the metrics ledger's anomaly detection (a length distribution
    # growing a heavy tail moves kurtosis long before mean/p95 move).
    # Rides the SAME span aggregate (exact int64 power sums as extra
    # map-side partials, no second scan); default off → byte-identical.
    collect_moments: bool = False


_MOMENT_COLS = ("_mom_n", "_mom_s1", "_mom_s2", "_mom_s3", "_mom_s4")


def part(th: StatsThresholds = StatsThresholds()) -> Part:
    """column_stats as a fused-plan part (operators/grain.py): doc-level
    aggregates over the doc grain, span-level ones over the narrow meta
    view (text_len is NULL iff text is NULL, so null-rate and length
    stats need no raw string bytes)."""
    # span count via the offset leaf (same length as spans; nested pruning
    # then reads one int leaf instead of the whole struct incl. text)
    n_spans_arr = F.size(F.col("spans.offset"))
    doc_aggs = {
        "empty_spans_rate": F.avg(F.when(n_spans_arr == 0, 1.0).otherwise(0.0)),
        "spans_per_doc_mean": F.avg(n_spans_arr),
        "spans_per_doc_max": F.max(n_spans_arr).cast("double"),
    }
    texty = F.col("kind").isin("text", "code")
    null_text = texty & F.col("text_len").isNull()
    tlen = F.col("text_len").cast("double")
    if th.exact_quantiles:
        p50 = F.expr("percentile(text_len, 0.5)")
        p95 = F.expr("percentile(text_len, 0.95)")
    else:
        p50 = F.expr("percentile_approx(text_len, 0.5, 10000)").cast("double")
        p95 = F.expr("percentile_approx(text_len, 0.95, 10000)").cast("double")
    span_aggs = {
        "n_texty": F.sum(F.when(texty, 1).otherwise(0)).cast("long"),
        "n_null_text": F.sum(F.when(null_text, 1).otherwise(0)).cast("long"),
        "text_len_mean": F.avg(tlen),
        "text_len_std": F.stddev(tlen),
        "text_len_min": F.min(tlen),
        "text_len_max": F.max(tlen),
        "text_len_p50": p50,
        "text_len_p95": p95,
        "media_ref_approx_distinct": F.approx_count_distinct("media_ref").cast("double"),
    }
    if th.collect_moments:
        from anomalydetection_spark.operators.moments import power_sum_aggs

        span_aggs.update(zip(_MOMENT_COLS, power_sum_aggs("text_len", "_mom_")))

    null_text_rate = F.when(
        F.col("n_texty") > 0, F.col("n_null_text") / F.col("n_texty")
    ).otherwise(F.lit(0.0))
    passed = (
        (F.col("n_docs") >= F.lit(th.min_rows))
        & (F.col("empty_spans_rate") <= F.lit(th.max_empty_spans_rate))
        & (null_text_rate <= F.lit(th.max_null_text_rate))
    )
    metrics = {
        "n_docs": F.col("n_docs").cast("double"),
        "n_spans": F.col("n_spans").cast("double"),
        "empty_spans_rate": F.col("empty_spans_rate"),
        "spans_per_doc_mean": F.col("spans_per_doc_mean"),
        "spans_per_doc_max": F.col("spans_per_doc_max"),
        "null_text_rate": null_text_rate,
        **{
            k: F.col(k)
            for k in (
                "text_len_mean", "text_len_std", "text_len_min", "text_len_max",
                "text_len_p50", "text_len_p95", "media_ref_approx_distinct",
            )
        },
    }
    if th.collect_moments:
        from anomalydetection_spark.operators.moments import shape_cols

        shapes = shape_cols("_mom_")
        metrics["text_len_skewness"] = shapes["skewness"]
        metrics["text_len_kurtosis"] = shapes["kurtosis"]
    return Part(
        CONSTRAINT,
        DOCS,
        (
            passed,
            F.coalesce(F.col("n_null_text"), F.lit(0)),
            F.col("n_docs"),
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in metrics]), F.array(*metrics.values())
            ),
        ),
        doc_aggs=doc_aggs,
        span_aggs=span_aggs,
        span_tag=(null_text, F.concat(F.lit("null text on kind="), F.col("kind"))),
    )


def check(
    docs: DataFrame,
    exploded: DataFrame,  # the narrow meta view (reassembly.explode_spans_meta)
    th: StatsThresholds = StatsThresholds(),
) -> tuple[DataFrame, DataFrame]:
    """column_stats constraint → (verdicts, violations): one hash
    aggregate per level, violations are the NULL-text text/code spans."""
    fused = fuse(docs, exploded, [part(th)])
    return fused.verdicts, fused.violations


def mad_outliers(
    agg: DataFrame,
    value_col: str,
    *,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Robust (median/MAD) outlier flags over an already-aggregated frame.

    The reference thresholds anomaly scores at a fixed quantile
    (end_to_end_prediction.py:447); the robust-z variant is the standard
    batch analog when the score distribution has heavy tails: median and
    MAD = median(|x - median|) resist the outliers themselves.

    Plan shape (scale-safe): ``agg`` is small (one row per group/bucket —
    the *input* corpus was already reduced by a hash agg), so the two
    exact-percentile passes aggregate it to single-row scalars that
    broadcast back via crossJoin — the same scalar-agg pattern as the
    drift checks (drift.py:103), no partition-less window anywhere.

    Returns ``agg`` + (rz, is_outlier); rz is NULL when MAD = 0 (constant
    series — every deviation infinite; flag only exact non-equality).
    """
    v = F.col(value_col).cast("double")
    med = agg.agg(F.percentile(v, F.lit(0.5)).alias("_med"))
    with_med = agg.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.percentile(F.abs(v - F.col("_med")), F.lit(0.5)).alias("_mad")
    )
    scored = with_med.crossJoin(F.broadcast(mad))
    rz = F.when(F.col("_mad") > 0, F.round(F.abs(v - F.col("_med")) / F.col("_mad"), 6))
    is_out = F.when(F.col("_mad") > 0, F.abs(v - F.col("_med")) / F.col("_mad") > z_threshold).otherwise(
        v != F.col("_med")
    )
    return scored.select(
        *[F.col(c) for c in agg.columns],
        rz.alias("rz"),
        is_out.alias("is_outlier"),
    )


def mad_outliers_grouped(
    agg: DataFrame,
    group_col: str,
    value_col: str,
    *,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Per-group robust (median/MAD) outlier flags — `mad_outliers` with
    the median and MAD computed WITHIN each group, so a value is judged
    against its own series' distribution (an hour anomalous for logins
    may be normal for batch jobs).

    Plan shape: two grouped exact-percentile aggregates over the
    already-aggregated input (group-keyed hash aggs, map-side partials —
    no window, no crossJoin blowup), each broadcast back onto the rows.
    Returns ``agg`` + (rz, is_outlier) with the `mad_outliers` zero-MAD
    convention per group.
    """
    v = F.col(value_col).cast("double")
    med = agg.groupBy(group_col).agg(F.percentile(v, F.lit(0.5)).alias("_med"))
    with_med = agg.join(F.broadcast(med), group_col)
    mad = with_med.groupBy(group_col).agg(
        F.percentile(F.abs(v - F.col("_med")), F.lit(0.5)).alias("_mad")
    )
    scored = with_med.join(F.broadcast(mad), group_col)
    rz = F.when(F.col("_mad") > 0, F.round(F.abs(v - F.col("_med")) / F.col("_mad"), 6))
    is_out = F.when(
        F.col("_mad") > 0, F.abs(v - F.col("_med")) / F.col("_mad") > z_threshold
    ).otherwise(v != F.col("_med"))
    return scored.select(
        *[F.col(c) for c in agg.columns],
        rz.alias("rz"),
        is_out.alias("is_outlier"),
    )
