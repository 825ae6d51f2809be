"""Full-suite composition tests: verdicts, rollup, clean-data all-pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.datagen import (
    DataGenConfig,
    clean_config,
    generate_documents,
    generate_media_assets,
)
from anomalydetection_spark.operators import drift, reassembly
from anomalydetection_spark.plans.suite import SuiteConfig, run_suite
from anomalydetection_spark.schema import VERDICTS_SCHEMA, VIOLATIONS_SCHEMA

CFG = DataGenConfig(n_docs=1500, n_partitions=4, n_media=300, drift_partitions=(3,))

CONSTRAINTS = {
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
}


@pytest.fixture(scope="module")
def baseline(spark):
    clean = generate_documents(spark, clean_config(CFG))
    return drift.compute_baseline(reassembly.explode_spans_meta(clean)).cache()


def test_suite_shapes_and_coverage(spark, baseline):
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    res = run_suite(docs, media, baseline)
    assert res.verdicts.schema.simpleString() == VERDICTS_SCHEMA.simpleString()
    assert res.violations.schema.simpleString() == VIOLATIONS_SCHEMA.simpleString()
    rows = res.verdicts.collect()
    # every (partition, constraint) pair present
    assert {(r["partition_id"], r["constraint"]) for r in rows} == {
        (p, c) for p in range(CFG.n_partitions) for c in CONSTRAINTS
    }
    # dirty data: uniqueness + referential must fail somewhere; drift on partition 3
    failed = {(r["partition_id"], r["constraint"]) for r in rows if not r["passed"]}
    assert any(c == "uniqueness" for _, c in failed)
    assert any(c == "referential" for _, c in failed)
    assert (3, "distribution_drift") in failed
    # rollup agrees with verdicts
    roll = {r["partition_id"]: r["passed"] for r in res.partition_rollup.collect()}
    for p in range(CFG.n_partitions):
        assert roll[p] == all(r["passed"] for r in rows if r["partition_id"] == p)


def test_clean_data_all_pass(spark, baseline):
    ccfg = clean_config(CFG)
    docs = generate_documents(spark, ccfg)
    media = generate_media_assets(spark, ccfg)
    res = run_suite(docs, media, baseline)
    rows = res.verdicts.collect()
    bad = [(r["partition_id"], r["constraint"]) for r in rows if not r["passed"]]
    assert bad == []
    assert res.violations.count() == 0


def test_quarantine_documents(spark, baseline):
    """Quarantine = full payload rows of violating docs, one row per doc
    with all its constraint labels; count matches the distinct doc-level
    violators and every label is justified by a violation row."""
    from anomalydetection_spark.plans.suite import quarantine_documents

    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    res = run_suite(docs, media, baseline)
    q = quarantine_documents(docs, res.violations)
    viol = res.violations.filter(F.col("doc_id").isNotNull())
    n_ids = viol.select("doc_id").distinct().count()
    assert n_ids > 0
    assert q.select("doc_id").distinct().count() == n_ids
    # duplicated doc_ids (uniqueness offenders) quarantine one payload row
    # per physical duplicate, so row count can exceed distinct ids
    assert q.count() >= n_ids
    # spans payload present; labels match the violation table per doc
    assert "spans" in q.columns
    got = {r["doc_id"]: list(r["violated_constraints"]) for r in q.collect()}
    want = {
        r["doc_id"]: sorted(r["cs"])
        for r in viol.groupBy("doc_id")
        .agg(F.collect_set("constraint").alias("cs"))
        .collect()
    }
    assert got == want


def test_quarantine_mass_violation_shuffle_fallback(spark, baseline):
    """Pathological input where (nearly) every document violates: the
    quarantine join must NOT broadcast the corpus-sized key set (round-2
    verdict item). Above broadcast_max_keys the gate falls back to a
    shuffle join — same rows, no broadcast of the keys side."""
    from anomalydetection_spark.plans.suite import quarantine_documents

    # every doc dangles its media_refs → every doc is a referential violator
    docs = generate_documents(spark, CFG)
    empty_media = generate_media_assets(spark, CFG).limit(0)
    res = run_suite(docs, empty_media, baseline, constraints=("referential",))
    viol = res.violations
    n_violators = viol.select("doc_id").distinct().count()
    # genuinely mass violation: every doc that references any media at all
    # (~75% of generated docs; the rest are text-only)
    assert n_violators > CFG.n_docs * 0.7

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = quarantine_documents(docs, viol, broadcast_max_keys=100)
        plan = gated._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            gated._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert gated.select("doc_id").distinct().count() == n_violators

        small = quarantine_documents(docs, viol, broadcast_max_keys=10_000_000)
        plan_small = small._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            small._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan_small, plan_small
        # both paths agree row-for-row
        key = lambda df: sorted(
            (r["doc_id"], tuple(r["violated_constraints"])) for r in df.collect()
        )
        assert key(gated) == key(small)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_global_verdicts_rollup(spark, baseline):
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    res = run_suite(docs, media, baseline)
    per = res.verdicts.collect()
    glob = {r["constraint"]: r for r in res.global_verdicts.collect()}
    assert set(glob) == CONSTRAINTS
    for c in CONSTRAINTS:
        mine = [r for r in per if r["constraint"] == c]
        assert glob[c]["passed"] == all(r["passed"] for r in mine)
        assert glob[c]["n_partitions"] == len(mine)
        assert glob[c]["n_failed_partitions"] == sum(not r["passed"] for r in mine)
        assert glob[c]["violation_count"] == sum(r["violation_count"] for r in mine)
    assert not glob["uniqueness"]["passed"]  # dirty fixture


def test_violation_sampling_bounds_sink_keeps_counts_exact(spark, baseline):
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    full = run_suite(docs, media, baseline)
    half = run_suite(
        docs, media, baseline, SuiteConfig(violation_sample_ppm=500_000)
    )
    none = run_suite(docs, media, baseline, SuiteConfig(violation_sample_ppm=0))
    n_full, n_half, n_none = (
        full.violations.count(), half.violations.count(), none.violations.count()
    )
    assert n_none == 0
    assert 0 < n_half < n_full
    # deterministic: same config → identical sampled rows
    again = run_suite(
        docs, media, baseline, SuiteConfig(violation_sample_ppm=500_000)
    )
    key = lambda df: sorted(
        (r["partition_id"], r["constraint"], r["doc_id"], r["pos"], r["detail"])
        for r in df.violations.collect()
    )
    assert key(half) == key(again)
    # sampled rows are a subset of the full set
    assert set(map(tuple, key(half))) <= set(map(tuple, key(full)))
    # verdict counts derive from the UNSAMPLED frames — exact either way
    v = lambda res: sorted(
        (r["partition_id"], r["constraint"], r["violation_count"])
        for r in res.verdicts.collect()
    )
    assert v(half) == v(full) == v(none)


def test_clean_documents_complements_quarantine(spark, baseline):
    from anomalydetection_spark.plans.suite import clean_documents, quarantine_documents

    docs = generate_documents(spark, CFG).cache()
    media = generate_media_assets(spark, CFG)
    res = run_suite(docs, media, baseline)
    res.violations.persist()

    clean = clean_documents(docs, res.violations)
    dirty = quarantine_documents(docs, res.violations)
    n_docs, n_clean, n_dirty = docs.count(), clean.count(), dirty.count()
    # every document row lands on exactly one side
    assert n_clean + n_dirty == n_docs
    assert 0 < n_clean < n_docs  # dirty fixture: some of each
    # no clean doc_id appears among the violating keys
    viol_ids = {
        r["doc_id"]
        for r in res.violations.filter(F.col("doc_id").isNotNull())
        .select("doc_id").distinct().collect()
    }
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert clean_ids.isdisjoint(viol_ids)
    # shuffle fallback path returns the same rows
    clean_shuffled = clean_documents(docs, res.violations, broadcast_max_keys=0)
    assert clean_shuffled.count() == n_clean


def test_warn_severity_reports_but_does_not_gate(spark, baseline):
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    # dirty fixture: uniqueness + referential fail; demote BOTH to warn and
    # restrict the run to constraints that pass elsewhere
    sel = ("uniqueness", "referential", "span_order", "volume")
    res = run_suite(
        docs, media, baseline,
        SuiteConfig(warn_constraints=("uniqueness", "referential")),
        constraints=sel,
    )
    verdicts = res.verdicts.collect()
    # verdicts still report the failures faithfully
    assert any(r["constraint"] == "uniqueness" and not r["passed"] for r in verdicts)
    # ...but the partition rollup gates on error-level only
    assert all(r["passed"] for r in res.partition_rollup.collect())
    glob = {r["constraint"]: r for r in res.global_verdicts.collect()}
    assert glob["uniqueness"]["severity"] == "warn"
    assert glob["span_order"]["severity"] == "error"
    assert not glob["uniqueness"]["passed"]  # still reported as failing

    # same inputs, no demotion: the rollup fails
    hard = run_suite(docs, media, baseline, constraints=sel)
    assert not all(r["passed"] for r in hard.partition_rollup.collect())


def test_warn_constraints_validated(spark, baseline):
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    with pytest.raises(ValueError, match="unknown warn constraints"):
        run_suite(
            docs, media, baseline, SuiteConfig(warn_constraints=("uniquness",))
        ).partition_rollup.collect()


def test_warn_constraints_fail_before_planning(spark, baseline):
    """A bad severity name is rejected before any plan is built: this
    frame has none of the document columns, so planning it would raise
    an AnalysisException instead."""
    not_docs = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="unknown warn constraints"):
        run_suite(
            not_docs, not_docs, baseline, SuiteConfig(warn_constraints=("uniquness",))
        )


def test_release_unpersists_what_the_run_cached(spark, baseline):
    """Each run lists the caches it takes; release() drops exactly those,
    so repeated runs (a stream's micro-batches, the manifest loop) do not
    accumulate persisted RDDs — and the released frames stay valid."""
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    # earlier runs over the same inputs left caches the new run would reuse
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        res = run_suite(docs, media, baseline)
        verdicts = res.verdicts.collect()
        n_viol = res.violations.count()
        res.partition_rollup.collect()
        assert jsc.getPersistentRDDs().size() > before
        res.release()
        assert jsc.getPersistentRDDs().size() == before
    # after release the frames recompute from their sources
    assert sorted(map(tuple, res.verdicts.collect())) == sorted(map(tuple, verdicts))
    assert res.violations.count() == n_viol


def test_declarative_severity(spark, baseline):
    from anomalydetection_spark.plans.declarative import compile_spec, run_declarative

    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG)
    spec = {
        "constraints": [
            {"type": "uniqueness", "severity": "warn"},
            {"type": "span_order"},
        ]
    }
    cfg, selected = compile_spec(spec)
    assert cfg.warn_constraints == ("uniqueness",)
    res = run_declarative(spec, docs, media, baseline)
    assert any(
        not r["passed"]
        for r in res.verdicts.collect()
        if r["constraint"] == "uniqueness"
    )
    assert all(r["passed"] for r in res.partition_rollup.collect())
    with pytest.raises(ValueError, match="unknown severity"):
        compile_spec({"constraints": [{"type": "uniqueness", "severity": "loud"}]})
