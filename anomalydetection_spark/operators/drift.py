"""Distribution-drift constraint: KL divergence + PSI on span histograms.

The reference's drift machinery is the VAE's analytic Gaussian KL term
(VAE_utils.py:112-115) and per-class reconstruction-error histograms
(VAE_utils.py:296-301). The engine's discrete analog: per-partition
histograms of span kind and span text length (SURVEY A11) compared to a
stored baseline with

    KL(p||q)  = Σ p·ln(p/q)
    PSI(p,q)  = Σ (p-q)·ln(p/q)

computed as plain column arithmetic after the histogram agg (A14) — no
Python. Laplace-style epsilon smoothing keeps empty buckets finite.

Scale design: the histogram is one hash-agg over the exploded spans
(map-side partials), producing ≤ (partitions × features × buckets) rows —
kilobytes at any input scale. The baseline join is a broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomalydetection_spark.operators.grain import SPANS, Part, fuse

CONSTRAINT = "distribution_drift"

LENGTH_BUCKET_WIDTH = 20
LENGTH_BUCKET_MAX = 19  # lengths ≥ max*width collapse into the last bucket


@dataclass(frozen=True)
class DriftThresholds:
    """KL/PSI always run; the bounded pair is opt-in (None = off).

    ``max_js`` / ``max_hellinger`` gate on Jensen–Shannon divergence
    (≤ ln 2) and Hellinger distance (≤ 1) — both defined for categorical
    AND ordinal features, both smoothing-free (zero-mass terms vanish
    exactly, so unlike KL/PSI the scores carry no epsilon dependence),
    and both bounded, which makes fixed thresholds meaningful across
    features with different support sizes. KS needs ordered buckets, so
    it stays in the standalone ``ks_js_hellinger`` analyzer rather than
    the per-feature suite constraint."""

    max_kl: float = 0.05
    max_psi: float = 0.1
    epsilon: float = 1e-6
    max_js: float | None = None
    max_hellinger: float | None = None


def _span_buckets() -> Column:
    """Per span, an array of struct<grp, key>: its span_kind bucket (NULL
    kinds kept) and — span_length is undefined for NULL text (media
    spans) — a NULL entry or its span_length bucket."""
    # NB: Spark's least() SKIPS nulls (least(NULL, 19) = 19) — null text
    # must be gated explicitly so media spans don't land in the last bucket
    len_bucket = F.least(
        F.floor(F.col("text_len") / F.lit(LENGTH_BUCKET_WIDTH)), F.lit(LENGTH_BUCKET_MAX)
    ).cast("string")
    return F.array(
        F.struct(F.lit("span_kind").alias("grp"), F.col("kind").alias("key")),
        F.when(
            F.col("text_len").isNotNull(),
            F.struct(F.lit("span_length").alias("grp"), len_bucket.alias("key")),
        ),
    )


def _bucketed(exploded: DataFrame) -> DataFrame:
    """(partition_id, feature, bucket) rows, one per span per feature.

    Single scan: both features explode from one 2-element array per span
    (a union of two selects would scan the span table twice — at 10^12
    spans that doubles the dominant cost of the whole drift check).
    """
    pairs = F.filter(_span_buckets(), lambda b: b.isNotNull())
    return exploded.select("partition_id", F.explode(pairs).alias("fb")).select(
        "partition_id", F.col("fb.grp").alias("feature"), F.col("fb.key").alias("bucket")
    )


def histograms(exploded: DataFrame) -> DataFrame:
    """Per-partition normalized histograms: (partition_id, feature, bucket, p)."""
    counts = _bucketed(exploded).groupBy("partition_id", "feature", "bucket").agg(
        F.count("*").alias("n")
    )
    total = F.sum("n").over(
        Window.partitionBy("partition_id", "feature")
    )
    return counts.select(
        "partition_id", "feature", "bucket", (F.col("n") / total).alias("p")
    )


def compute_baseline(exploded: DataFrame) -> DataFrame:
    """Global (all-partition) histograms: (feature, bucket, p) — the stored
    baseline a production deployment would persist from a blessed snapshot."""
    counts = _bucketed(exploded).groupBy("feature", "bucket").agg(F.count("*").alias("n"))
    total = F.sum("n").over(
        Window.partitionBy("feature")
    )
    return counts.select("feature", "bucket", (F.col("n") / total).alias("p"))


def kl_psi(
    cur: DataFrame,
    base: DataFrame,
    group_col: str,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Generic KL + PSI between per-group histograms and a baseline.

    ``cur``: (group_col, bucket, p); ``base``: (bucket, q) with q summing
    to 1. Returns (group_col, kl, psi). Buckets = union per group via a
    crossJoin of groups × baseline buckets + full-outer with current —
    both sides epsilon-smoothed (the discrete analog of the reference's
    Gaussian KL, VAE_utils.py:112-115).
    """
    groups = cur.select(group_col).distinct()
    base_x = groups.crossJoin(F.broadcast(base.select("bucket", "q")))
    joined = base_x.join(cur, [group_col, "bucket"], "full_outer").select(
        group_col,
        (F.coalesce(F.col("p"), F.lit(0.0)) + F.lit(epsilon)).alias("p"),
        (F.coalesce(F.col("q"), F.lit(0.0)) + F.lit(epsilon)).alias("q"),
    )
    return joined.groupBy(group_col).agg(
        F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl"),
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
    )


def _dense_grid(
    cur_counts: DataFrame, base_counts: DataFrame, group_col: str
) -> DataFrame:
    """Dense (group × bucket) count grid shared by the distance-drift
    metrics: (group_col, bucket, np, nq, tg, tq) with missing buckets
    carrying n=0 on either side.

    Every group gets every baseline bucket (so cumulative sums see n=0
    rows); current-only buckets (absent from baseline) get nq=0 — they
    contribute to CDF-gap metrics and are excluded from chi-square
    (E=0 is outside the statistic's support, the standard convention).
    Inputs are post-aggregation histograms (≤ groups × buckets rows — KB
    at any corpus size); the baseline and the totals are broadcast.
    """
    tg = cur_counts.groupBy(group_col).agg(F.sum("n").cast("long").alias("tg"))
    base_tot = base_counts.agg(F.sum("n").cast("long").alias("tq"))
    base = base_counts.select(
        F.col("bucket"), F.col("n").cast("long").alias("nq")
    ).crossJoin(F.broadcast(base_tot))

    grid = tg.crossJoin(F.broadcast(base))
    joined = grid.join(
        cur_counts.select(
            group_col, "bucket", F.col("n").cast("long").alias("np")
        ),
        [group_col, "bucket"],
        "full_outer",
    ).select(
        group_col,
        "bucket",
        F.coalesce(F.col("np"), F.lit(0)).alias("np"),
        F.coalesce(F.col("nq"), F.lit(0)).alias("nq"),
        "tg",
        "tq",
    )
    # rows from current-only buckets have NULL tg/tq — rebroadcast totals
    totals = tg.crossJoin(F.broadcast(base_tot))
    return joined.drop("tg", "tq").join(F.broadcast(totals), group_col)


def wasserstein_chisq(
    cur_counts: DataFrame,
    base_counts: DataFrame,
    group_col: str,
) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance + Pearson chi-square statistic
    between per-group bucket histograms and a global baseline.

    Complements ``kl_psi``: KL/PSI are support-sensitive (a mass shift
    between *adjacent* length buckets scores the same as a shift across the
    whole range), while W1 weights shifts by how far the mass moved — the
    right alarm for gradual length/score drift — and the chi-square
    statistic is the classical homogeneity test for categorical features.

    ``cur_counts``: (group_col, bucket, n) with integer-orderable buckets;
    ``base_counts``: (bucket, n). Both are raw counts, NOT normalized —
    keeping counts integral lets the heavy arithmetic stay exact:

        W1  = Σ_b |cumP(b) − cumQ(b)|
            = Σ_b |cum_np·Tq − cum_nq·Tg| / (Tg·Tq)

    where the numerator is decimal(38,0)-exact (counts ≤ 1e12 × totals
    ≤ 1e12 fits 38 digits) and ONE double division happens at the end —
    summation order cannot perturb the result. Chi-square's per-bucket
    difference (np·Tq − nq·Tg) is likewise exact; its square must drop to
    double (1e48 overflows any fixed decimal), matching the oracle's
    arithmetic exactly because both engines square the same integer.

    Scale: inputs are post-aggregation histograms (≤ groups × buckets
    rows — KB at any corpus size); the baseline is broadcast onto the
    group grid and the cumulative windows partition BY GROUP (never a
    partition-less window). Returns (group_col, w1, chisq).
    """
    joined = _dense_grid(cur_counts, base_counts, group_col)

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("bucket").cast("long"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d38 = "decimal(38,0)"
    cum_gap = F.abs(
        F.sum("np").over(w).cast(d38) * F.col("tq").cast(d38)
        - F.sum("nq").over(w).cast(d38) * F.col("tg").cast(d38)
    )
    diff = (
        F.col("np").cast(d38) * F.col("tq").cast(d38)
        - F.col("nq").cast(d38) * F.col("tg").cast(d38)
    )
    per_bucket = joined.select(
        group_col,
        "tg",
        "tq",
        cum_gap.alias("cum_gap"),
        F.when(
            F.col("nq") > 0,
            F.pow(diff.cast("double"), F.lit(2.0))
            / (
                F.col("nq").cast("double")
                * F.col("tg").cast("double")
                * F.col("tq").cast("double")
            ),
        ).alias("chisq_term"),
    )
    return per_bucket.groupBy(group_col).agg(
        (
            F.sum("cum_gap").cast("double")
            / (F.first("tg").cast("double") * F.first("tq").cast("double"))
        ).alias("w1"),
        F.sum("chisq_term").alias("chisq"),
    )


def ks_js_hellinger(
    cur_counts: DataFrame,
    base_counts: DataFrame,
    group_col: str,
) -> DataFrame:
    """Kolmogorov–Smirnov statistic + Jensen–Shannon divergence +
    Hellinger distance between per-group bucket histograms and a global
    baseline — the three classical bounded drift metrics completing the
    family next to KL/PSI (support-sensitive, unbounded) and
    W1/chi-square (distance-aware, unbounded):

        KS  = max_b |cumP(b) − cumQ(b)|           ∈ [0, 1]
        JS  = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m),  m = (p+q)/2   ∈ [0, ln 2]
        H   = sqrt(½ Σ (√p − √q)²)                ∈ [0, 1]

    KS is the two-sample test's statistic on the bucketed CDFs (the
    critical-value scaling is the caller's policy knob); JS is the
    symmetric, always-finite KL variant (no epsilon smoothing needed —
    zero-mass terms vanish exactly, so unlike ``kl_psi`` the score is
    independent of any smoothing constant); Hellinger is the bounded
    geometric distance alert thresholds compose best with.

    Determinism: the KS numerator max|cum_np·Tq − cum_nq·Tg| is
    decimal(38,0)-exact with ONE terminal double division (the W1
    contract, above). JS/Hellinger need per-bucket probabilities, so p
    and q are formed by single exact-integer divisions and every
    subsequent op is double-on-double in a fixed expression shape —
    mirror it verbatim in SQL twins. Zero-mass conventions: p·ln(p/m)
    contributes only where np > 0 (limit 0 at p→0), likewise q; the
    dense grid never emits a both-zero bucket.

    Scale: identical to ``wasserstein_chisq`` — post-aggregation inputs,
    broadcast baseline/totals, cumulative window partitioned BY GROUP.
    Returns (group_col, ks, js, hellinger).
    """
    joined = _dense_grid(cur_counts, base_counts, group_col)

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("bucket").cast("long"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d38 = "decimal(38,0)"
    cum_gap = F.abs(
        F.sum("np").over(w).cast(d38) * F.col("tq").cast(d38)
        - F.sum("nq").over(w).cast(d38) * F.col("tg").cast(d38)
    )
    p = F.col("np").cast("double") / F.col("tg").cast("double")
    q = F.col("nq").cast("double") / F.col("tq").cast("double")
    m = (p + q) / F.lit(2.0)
    js_term = F.when(F.col("np") > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        F.col("nq") > 0, q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    hell_term = (F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q))
    per_bucket = joined.select(
        group_col,
        "tg",
        "tq",
        cum_gap.alias("cum_gap"),
        js_term.alias("js_term"),
        hell_term.alias("hell_term"),
    )
    return per_bucket.groupBy(group_col).agg(
        (
            F.max("cum_gap").cast("double")
            / (F.first("tg").cast("double") * F.first("tq").cast("double"))
        ).alias("ks"),
        (F.lit(0.5) * F.sum("js_term")).alias("js"),
        F.sqrt(F.lit(0.5) * F.sum("hell_term")).alias("hellinger"),
    )


_FEATURES = (("span_kind", "kind"), ("span_length", "length"))


def part(baseline: DataFrame, th: DriftThresholds = DriftThresholds()) -> Part:
    """distribution_drift as a fused-plan part (operators/grain.py).

    Keys: each span contributes its span_kind bucket (NULL kinds kept)
    and, when its text is non-NULL, its span_length bucket — one pass,
    counted in the suite's shared keyed aggregate (≤ partitions ×
    features × buckets rows). The baseline buckets enter the same
    aggregate as zero-count grid rows per partition, which makes the
    epsilon-smoothed full outer join of current vs baseline buckets part
    of the count. The normalizing totals come from the span-grain rows
    (the kind total is ``n_spans``, the length total the non-NULL
    ``text_len`` count), and the per-partition aggregate takes KL, PSI
    and — opt-in — JS/Hellinger as feature-conditional sums; the bounded
    pair reads the RAW un-smoothed probabilities (its zero-mass terms
    vanish exactly). With both bounded thresholds unset the output is the
    KL/PSI-only contract.

    Violations are partition-level (doc_id NULL): one row per
    (partition, feature) whose scores exceed a threshold."""
    bounded = th.max_js is not None or th.max_hellinger is not None
    grid = baseline.select(
        F.col("feature").alias("grp"), F.col("bucket").alias("key"), F.col("p").alias("q")
    )

    n = F.col("n")
    total = F.when(F.col("grp") == "span_kind", F.col("n_spans")).otherwise(F.col("n_tlen"))
    p0 = F.when(n > 0, n / total).otherwise(F.lit(0.0))
    q0 = F.coalesce(F.col("q"), F.lit(0.0))
    p, q = p0 + F.lit(th.epsilon), q0 + F.lit(th.epsilon)
    terms = {"kl": p * F.log(p / q), "psi": (p - q) * F.log(p / q)}
    if bounded:
        m = (p0 + q0) / F.lit(2.0)
        terms["js"] = F.when(p0 > 0, p0 * F.log(p0 / m)).otherwise(F.lit(0.0)) + F.when(
            q0 > 0, q0 * F.log(q0 / m)
        ).otherwise(F.lit(0.0))
        terms["hellinger"] = (F.sqrt(p0) - F.sqrt(q0)) * (F.sqrt(p0) - F.sqrt(q0))
    key_aggs = {}
    for feature, tag in _FEATURES:
        is_f = F.col("grp") == feature
        # a sum over no rows is NULL: the feature is absent for the partition
        sums = {k: F.sum(F.when(is_f, t)) for k, t in terms.items()}
        if bounded:
            sums["js"] = F.lit(0.5) * sums["js"]
            sums["hellinger"] = F.sqrt(F.lit(0.5) * sums["hellinger"])
        key_aggs.update({f"_drift_{k}_{tag}": c for k, c in sums.items()})

    oks, details = [], []
    for feature, tag in _FEATURES:
        s = {k: F.col(f"_drift_{k}_{tag}") for k in ("kl", "psi", "js", "hellinger")}
        ok = (s["kl"] <= F.lit(th.max_kl)) & (s["psi"] <= F.lit(th.max_psi))
        if th.max_js is not None:
            ok = ok & (s["js"] <= F.lit(th.max_js))
        if th.max_hellinger is not None:
            ok = ok & (s["hellinger"] <= F.lit(th.max_hellinger))
        oks.append(ok)  # NULL iff the feature is absent
        detail = (
            F.format_string(
                "drift on %s: kl=%.6f psi=%.6f js=%.6f hellinger=%.6f",
                F.lit(feature), s["kl"], s["psi"], s["js"], s["hellinger"],
            )
            if bounded
            else F.format_string("drift on %s: kl=%.6f psi=%.6f", F.lit(feature), s["kl"], s["psi"])
        )
        details.append(F.when(~ok, detail))
    vc = reduce(
        lambda a, b: a + b, [F.when(~ok, 1).otherwise(0) for ok in oks]
    )
    metric_keys = ["kl", "psi"] + (["js", "hellinger"] if bounded else [])
    metrics = {
        f"{k}_{feature}": F.col(f"_drift_{k}_{tag}")
        for pair in (metric_keys[:2], metric_keys[2:])
        for feature, tag in _FEATURES
        for k in pair
    }
    return Part(
        CONSTRAINT,
        SPANS,
        (
            vc == 0,
            vc,
            F.col("n_spans"),
            F.map_from_arrays(F.array(*[F.lit(k) for k in metrics]), F.array(*metrics.values())),
        ),
        span_aggs={"n_tlen": F.count("text_len")},
        key_rows=F.array_compact(F.array(*details)),
        key_spans=_span_buckets(),
        key_grid=lambda parts: parts.crossJoin(F.broadcast(grid)),
        key_aggs=key_aggs,
    )


def check(
    exploded: DataFrame,
    baseline: DataFrame,
    th: DriftThresholds = DriftThresholds(),
) -> tuple[DataFrame, DataFrame]:
    """distribution_drift constraint → (verdicts, violations)."""
    fused = fuse(None, exploded, [part(baseline, th)])
    return fused.verdicts, fused.violations


# round-6 log10(1 + 1/d) for d = 1..9, computed ONCE here and inlined as
# literals on both engine sides (log10 is not correctly rounded by libm,
# so evaluating it per-engine risks an ulp split on the hash boundary)
BENFORD_EXPECTED = [
    round(__import__("math").log10(1.0 + 1.0 / d), 6) for d in range(1, 10)
]


def benford(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit conformance vs Benford's law — the
    audit-grade sanity check for "organically grown" numeric columns
    (amounts, sizes, durations): fabricated, truncated, or unit-mangled
    data bends the leading-digit curve long before summary stats move.

    Returns the dense 9-row frame (digit, n, share, expected) with
    expected = log10(1 + 1/d). The first significant digit is extracted
    from the value's DECIMAL STRING rendering (first [1-9] character, sign
    and leading zeros skipped) rather than via floor(log10(x)) arithmetic:
    float log at exact powers of ten rounds differently across engines,
    strings don't. Use on decimal/integer columns (float columns may render
    scientifically — cast first). NULLs and zeros carry no first digit and
    are excluded from the denominator.

    Scale: one projected scan + one 9-bucket hash aggregate; the
    theoretical baseline is a broadcast literal. Nothing here is heavier
    than a count(*).
    """
    first = F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0)
    counts = (
        df.select(first.alias("_d"))
        .filter(F.col("_d") != "")
        .groupBy("_d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("_total"))
    grid = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    dense = grid.join(
        counts.select(F.col("_d").cast("int").alias("digit"), "n"),
        "digit",
        "left",
    ).select("digit", F.coalesce("n", F.lit(0)).alias("n"))
    # `expected` is nine CONSTANTS — computed once driver-side and inlined
    # as literals (mirrored verbatim in SQL twins), because log10 is not
    # IEEE-correctly-rounded and can differ by an ulp across engines.
    # `share` uses the deterministic quantizer: its input n/_total is one
    # IEEE divide of exactly converted ints, bit-identical cross-engine,
    # and det_round6 keeps the boundary engine-independent where
    # round(double, 6) is not (functions/detquant.py).
    from anomalydetection_spark.functions.detquant import det_round6

    expected = F.element_at(
        F.array(*[F.lit(e) for e in BENFORD_EXPECTED]), F.col("digit")
    )
    return dense.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        det_round6(F.col("n") / F.col("_total")).alias("share"),
        expected.alias("expected"),
    )
