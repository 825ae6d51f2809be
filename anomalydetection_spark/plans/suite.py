"""ValidationSuite — the engine's top-level plan builder.

Plans the ten default constraints as ONE aggregate per grain
(operators/grain.py), Deequ's scan-sharing design, instead of one DAG per
constraint unioned together:

    docs ⟕ broadcast(salted duplicate ids) → groupBy(partition_id)   doc grain
    docs → posexplode (once) ⟕ catalog ids → groupBy(partition_id)  span grain
      └→ keys (drift buckets + baseline grid, media_ref counts)
           → groupBy(partition, grp, key) ⋈ broadcast(span totals)
           → groupBy(partition_id)                                    keyed
    doc grain ⟕ broadcast(span grain + keyed) → one wide row per partition
      → inline(array(struct…)) verdicts | rollup | key-level violations
    violations = tagged span pass ⊎ tagged doc pass ⊎ wide-row key rows

Each operator module contributes its aggregate, verdict and violation-tag
expressions once (``part()``); its standalone ``check()`` plans the same
part alone. Verdict counts are conditional sums inside the grain
aggregates, never counts of violation frames, so the verdict and the
violation actions share only caches, not work.

Exchange budget of the default verdict plan (tests/test_suite_plan_budget.py):
seven shuffles — duplicate detection (2), doc grain, distinct catalog
ids, span grain, keyed counts, keyed per-partition rows — and three scans
of the source (doc grain, duplicate detection, span view); the
|partitions|-row frames join by broadcast. Opt-in constraints
(``placement``, ``freshness``) and expression rules plan as their own
branches, unioned onto the fused output.

This replaces the reference's eager file-materialized stage chain
(end_to_end_prediction.py:618-667: each step writes .csv/.npy before the
next starts) with a single Catalyst-optimized plan whose stage boundaries
are those shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators import (
    drift,
    expression,
    freqitems,
    freshness,
    grain,
    patterns,
    placement,
    referential,
    reassembly,
    schema_check,
    stats,
    uniqueness,
    volume,
)


@dataclass(frozen=True)
class SuiteConfig:
    stats: stats.StatsThresholds = field(default_factory=stats.StatsThresholds)
    drift: drift.DriftThresholds = field(default_factory=drift.DriftThresholds)
    freq: freqitems.FreqThresholds = field(default_factory=freqitems.FreqThresholds)
    pattern: patterns.PatternThresholds = field(default_factory=patterns.PatternThresholds)
    volume: volume.VolumeThresholds = field(default_factory=volume.VolumeThresholds)
    placement: placement.PlacementThresholds = field(
        default_factory=placement.PlacementThresholds
    )
    freshness: freshness.FreshnessThresholds = field(
        default_factory=freshness.FreshnessThresholds
    )
    # named row-level SQL predicates (operators/expression.py) — the
    # generic escape hatch for table-specific business rules. All rules
    # fuse into one scan; each reports/gates as "expression:<name>".
    expressions: tuple[expression.ExpressionRule, ...] = ()
    schema: schema_check.SchemaThresholds = field(
        default_factory=schema_check.SchemaThresholds
    )
    # contract the schema constraint validates against; None = the
    # canonical interleaved-documents schema (anomalydetection_spark.schema)
    expected_schema: object | None = None
    n_salts: int = 16
    broadcast_media: bool = True
    # persist the (narrow, text-free) exploded span view for the
    # multi-consumer fan-out. True/False force it; None (default) applies a
    # size gate: persist only when Catalyst's plan-stats estimate for the
    # SOURCE table is at most persist_exploded_max_bytes. Caching the span
    # view of a 100 TB corpus spills the whole run's memory budget for a
    # view that nested-leaf-pruned columnar re-scans reproduce cheaply —
    # the re-scan path is the at-scale default, the cache a small-input
    # optimization. Unknown sizes (no stats) count as big.
    persist_exploded: bool | None = None
    persist_exploded_max_bytes: int = 8 << 30
    # persist what the verdict and the violation actions both consume
    # (MEMORY_AND_DISK): the duplicate-id set, the catalog ids when the
    # span view is not cached, and the per-partition wide row — without it
    # the violations action re-runs duplicate detection and every grain
    # aggregate behind the key-level violation rows
    persist_violations: bool = True
    # deterministic sample rate (parts-per-million) applied to the emitted
    # VIOLATION rows only — verdict counts stay exact. At 10^12 docs a
    # pathological batch (every doc violating) makes the violation sink the
    # largest output of the run; a ppm cap bounds it map-only (one hash
    # predicate, no shuffle, no count), reproducibly across retries and
    # engines. None = emit every violation row.
    violation_sample_ppm: int | None = None
    # constraints demoted to WARNING severity: their verdicts still report
    # passed/violations faithfully, but a failure does not gate the
    # partition rollup or the global pass — the Deequ check-level split
    # (e.g. run a new, still-tuning drift threshold as warn before
    # promoting it to error)
    warn_constraints: tuple[str, ...] = ()
    # round-robin repartition of the exploded meta view before fan-out:
    # one exchange whose shuffle files every span consumer (and the
    # violations job after the verdicts job) re-reads via stage reuse,
    # instead of each re-scanning + re-exploding the source.
    # None = off (small inputs, where the extra shuffle costs more).
    repartition_exploded: int | None = None


@dataclass
class ValidationResult:
    verdicts: DataFrame      # VERDICTS_SCHEMA: one row per (partition, constraint)
    violations: DataFrame    # VIOLATIONS_SCHEMA
    partition_rollup: DataFrame  # (partition_id, passed, violation_count, row_count)
    warn_constraints: tuple[str, ...] = ()  # report-only, non-gating (cfg echo)
    # the caches this run's plan took (span view, shared lookups, wide row)
    persisted: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist exactly the caches this run took. Call it once the
        sinks have consumed the frames; the frames stay valid afterwards
        (a later action recomputes from the sources). Spark keys caches by
        plan, so a concurrent run over the same inputs shares them and
        recomputes after this call."""
        for df in self.persisted:
            df.unpersist()
        self.persisted = []

    @property
    def global_verdicts(self) -> DataFrame:
        """Table-level rollup, one row per constraint: did it pass
        EVERYWHERE, how many partitions failed, total violations, and its
        severity (a warn-level constraint reports failures but never
        gates). The |partitions × constraints|-sized verdict frame
        aggregates to |constraints| rows — the summary a scheduler keys a
        promote/block decision on without reading per-partition detail."""
        if self.warn_constraints:
            sev = F.when(
                F.col("constraint").isin(*self.warn_constraints), F.lit("warn")
            ).otherwise(F.lit("error"))
        else:
            sev = F.lit("error")
        return (
            self.verdicts.groupBy("constraint")
            .agg(
                F.bool_and("passed").alias("passed"),
                F.count(F.lit(1)).cast("long").alias("n_partitions"),
                F.sum(F.when(~F.col("passed"), 1).otherwise(0))
                .cast("long")
                .alias("n_failed_partitions"),
                F.sum("violation_count").cast("long").alias("violation_count"),
            )
            .withColumn("severity", sev)
        )


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (bytes). File sources report
    actual on-disk bytes scaled by projection; plans without statistics
    report spark.sql.defaultSizeInBytes (Long.MaxValue) — i.e. unknown
    counts as 'too big to cache', the safe direction for the persist gate."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001


def _default_contract():
    """Canonical interleaved-documents contract, nullability-relaxed (the
    suite's batch frames come off parquet scans / derivations that don't
    carry non-null flags)."""
    from anomalydetection_spark.schema import DOCUMENTS_SCHEMA

    return schema_check.relax_nullability(DOCUMENTS_SCHEMA)


ALL_CONSTRAINTS = (
    "schema",
    "column_stats",
    "uniqueness",
    "referential",
    "distribution_drift",
    "span_order",
    "frequent_items",
    "pattern",
    "cross_column",
    "volume",
)

# opt-in constraints: valid in ``constraints``/declarative specs but not in
# the default run — each needs caller-supplied configuration with no safe
# default (placement needs the table's partition transform)
OPTIONAL_CONSTRAINTS = ("placement", "freshness")


def run_suite(
    docs: DataFrame,
    media: DataFrame,
    baseline_hist: DataFrame,
    cfg: SuiteConfig = SuiteConfig(),
    uniqueness_scope: DataFrame | None = None,
    constraints: tuple[str, ...] | list[str] | None = None,
    expected_partitions: DataFrame | None = None,
) -> ValidationResult:
    """Build the full-suite validation plan (lazy — caller triggers actions).

    ``uniqueness_scope``: full table for global duplicate detection when
    ``docs`` is a resumed subset (see operators/uniqueness.py).
    ``constraints``: subset of ALL_CONSTRAINTS to evaluate (None = all) —
    the hook the declarative spec layer (plans/declarative.py) drives.
    ``expected_partitions``: partition list the volume constraint emits
    n_docs=0 FAIL rows for when absent (operators/volume.py) — the resume
    planner's metadata partition list plugs in here.

    The caches the plan takes are listed on the result; call
    ``ValidationResult.release()`` once its frames have been consumed.
    """
    selected = tuple(constraints) if constraints is not None else ALL_CONSTRAINTS
    known = set(ALL_CONSTRAINTS) | set(OPTIONAL_CONSTRAINTS)
    unknown = set(selected) - known
    if unknown:
        raise ValueError(f"unknown constraints: {sorted(unknown)}")
    # a bad severity name is a config error: fail before planning anything
    bad = set(cfg.warn_constraints) - known - {r.constraint for r in cfg.expressions}
    if bad:
        raise ValueError(f"unknown warn constraints: {sorted(bad)}")

    exploded = reassembly.explode_spans_meta(docs)
    if cfg.repartition_exploded:
        # round-robin, NOT by partition_id: the Iceberg partition count can
        # be far below the cluster's task slots, and hash collisions over a
        # small key domain would idle executors; every downstream groupBy
        # does map-side partial aggregation anyway, so co-location buys
        # nothing while balance buys full parallelism
        exploded = exploded.repartition(cfg.repartition_exploded)
    persist_ex = cfg.persist_exploded
    if persist_ex is None:
        persist_ex = plan_size_bytes(docs) <= cfg.persist_exploded_max_bytes

    builders = {
        # structural contract check: reads only df.schema (driver-side
        # metadata); its rows cover the metadata partition list when given
        "schema": lambda: schema_check.part(
            docs.schema, cfg.expected_schema or _default_contract(), cfg.schema
        ),
        "column_stats": lambda: stats.part(cfg.stats),
        "uniqueness": lambda: uniqueness.part(
            uniqueness_scope if uniqueness_scope is not None else docs, cfg.n_salts
        ),
        "referential": lambda: referential.part(media, broadcast=cfg.broadcast_media),
        "distribution_drift": lambda: drift.part(baseline_hist, cfg.drift),
        "span_order": reassembly.part,
        "frequent_items": lambda: freqitems.part(cfg.freq),
        "pattern": lambda: patterns.pattern_part(cfg.pattern),
        "cross_column": patterns.cross_column_part,
        "volume": lambda: volume.part(cfg.volume),
    }
    parts = [builders[name]() for name in ALL_CONSTRAINTS if name in selected]
    outputs, rollups, persisted = [], [], []
    if parts:
        fused = grain.fuse(
            docs,
            exploded,
            parts,
            expected_partitions,
            persist_spans=persist_ex,
            persist_shared=cfg.persist_violations,
            warn_constraints=tuple(cfg.warn_constraints),
        )
        outputs.append((fused.verdicts, fused.violations))
        rollups.append(fused.rollup)
        persisted += fused.persisted

    # opt-in constraints and expression rules plan as their own branches
    branches = []
    if "placement" in selected:
        # map-only partition-transform consistency (needs cfg.placement.expr)
        branches.append(placement.check(docs, cfg.placement))
    if "freshness" in selected:
        # event-time recency bounds (needs cfg.freshness ts_expr + as_of)
        branches.append(freshness.check(docs, cfg.freshness))
    # config-driven opt-in (like warn_constraints): present rules always
    # evaluate — there is no meaningful default rule set to select from
    if cfg.expressions:
        branches.append(expression.check(docs, cfg.expressions))
    # warn-level constraints report but don't gate the rollup's pass bit
    gating = F.col("passed")
    if cfg.warn_constraints:
        gating = gating | F.col("constraint").isin(*cfg.warn_constraints)
    from pyspark.storagelevel import StorageLevel

    for v, x in branches:
        if cfg.persist_violations:
            x = x.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(x)
        outputs.append((v, x))
        rollups.append(
            v.select("partition_id", gating.alias("passed"), "violation_count", "row_count")
        )

    verdicts = reduce(DataFrame.unionByName, [v for v, _ in outputs])
    violations = reduce(DataFrame.unionByName, [x for _, x in outputs])
    rollup = rollups[0]
    if branches:
        rollup = (
            reduce(DataFrame.unionByName, rollups)
            .groupBy("partition_id")
            .agg(
                F.bool_and("passed").alias("passed"),
                F.sum("violation_count").cast("long").alias("violation_count"),
                F.max("row_count").cast("long").alias("row_count"),
            )
        )
    if cfg.violation_sample_ppm is not None:
        # applied on TOP of the violation rows: verdict counts are
        # conditional sums over the unsampled data, so totals stay exact
        # while the emitted rows are a deterministic, retry-stable sample.
        # doc-keyed rows hash on (doc_id, constraint, pos); key-level rows
        # (frequent_items hot keys, volume/schema facts) hash their detail.
        key = F.xxhash64(
            F.coalesce(F.col("doc_id"), F.col("detail")),
            F.col("constraint"),
            F.coalesce(F.col("pos"), F.lit(-1)),
        )
        violations = violations.filter(
            F.pmod(key, F.lit(1_000_000)) < F.lit(int(cfg.violation_sample_ppm))
        )
    return ValidationResult(
        verdicts=verdicts,
        violations=violations,
        partition_rollup=rollup,
        warn_constraints=tuple(cfg.warn_constraints),
        persisted=persisted,
    )


def quarantine_documents(
    docs: DataFrame,
    violations: DataFrame,
    broadcast_max_keys: int = 1_000_000,
) -> DataFrame:
    """Full offending DOCUMENT rows for inspection/repair — the violation
    table carries keys + detail strings; the quarantine carries payloads.

    Violating doc_ids are the exception by construction, so the key set
    is normally aggregated small (collect_set of constraints per doc) and
    broadcast back onto the document table as an inner join — one more
    scan of the fact side, zero fact-side shuffle. But "normally" is a
    data property, not a guarantee: a pathological run where (nearly)
    every document violates would broadcast a corpus-sized key set and
    OOM the driver/executors. The broadcast is therefore GATED on an
    exact key count (one cheap job over the violation frame, which the
    suite persists precisely because verdicts/sinks re-consume it);
    above ``broadcast_max_keys`` the join falls back to a shuffle
    hash/sort-merge join, which scales with the data instead of with
    executor memory. ``broadcast_max_keys=None`` forces the broadcast
    unconditionally (the pre-gate behavior).

    Each offending document ROW is quarantined with all its constraint
    labels (a doc_id duplicated in the table — the uniqueness offender —
    yields one payload row per physical duplicate). Key-level violations
    with no doc_id (e.g. frequent_items hot keys) have no payload row to
    quarantine and are excluded here."""
    keys = (
        violations.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("constraint")).alias("violated_constraints"))
    )
    if broadcast_max_keys is None or keys.count() <= broadcast_max_keys:
        keys = F.broadcast(keys)
    return docs.join(keys, "doc_id")


def clean_documents(
    docs: DataFrame,
    violations: DataFrame,
    broadcast_max_keys: int = 1_000_000,
) -> DataFrame:
    """The promote path — documents with NO violation row under ANY
    constraint, ``quarantine_documents``' complement: what a curation
    pipeline forwards to training after a validation run.

    Same broadcast economics as the quarantine: the violating-key set is
    the exception by construction, so it aggregates small and broadcasts
    into a LEFT ANTI join — one more pass over the document table, zero
    fact-side shuffle; above ``broadcast_max_keys`` the anti-join falls
    back to shuffle so a pathological all-violating batch cannot OOM the
    broadcast. Key-level violations without a doc_id (hot media_refs,
    volume/schema facts) identify no specific document and do not
    disqualify any."""
    keys = violations.filter(F.col("doc_id").isNotNull()).select("doc_id").distinct()
    if broadcast_max_keys is None or keys.count() <= broadcast_max_keys:
        keys = F.broadcast(keys)
    return docs.join(keys, "doc_id", "left_anti")
