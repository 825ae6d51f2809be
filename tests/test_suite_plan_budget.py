"""Plan-budget regression: the default suite plans one aggregate per grain.

The verdict plan of the default 10-constraint suite over a parquet
datagen table is pinned by its node counts — shuffles, source scans, and
exactly one doc-grain plus one span-grain ``partition_id`` aggregate over
the source. A constraint that re-groups the source on its own again (the
per-constraint DAGs this plan replaced planned 35 shuffles and 9 source
scans here) shows up as a changed count.
"""

from __future__ import annotations

import re

import pytest

from anomalydetection_spark.datagen import (
    DataGenConfig,
    clean_config,
    generate_documents,
    generate_media_assets,
)
from anomalydetection_spark.operators import drift, reassembly
from anomalydetection_spark.plans.suite import run_suite

CFG = DataGenConfig(n_docs=400, n_partitions=4, n_media=100, drift_partitions=(3,))

# shuffles: salted duplicate detection (2), doc grain, distinct catalog
# ids, span grain, keyed counts, keyed per-partition rows
EXCHANGES = 7
# source scans: doc grain, duplicate detection, span view
SOURCE_SCANS = 3


def _nodes(plan: str) -> dict[int, tuple[str, str]]:
    """Formatted-explain detail blocks by node id: (operator, block)."""
    nodes = {}
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) (\S+)", block.strip())
        if m:
            nodes[int(m.group(1))] = (m.group(2), block)
    return nodes


@pytest.fixture(scope="module")
def verdict_plan(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("budget")
    generate_documents(spark, CFG).write.parquet(str(d / "docs"))
    generate_media_assets(spark, CFG).write.parquet(str(d / "media"))
    drift.compute_baseline(
        reassembly.explode_spans_meta(generate_documents(spark, clean_config(CFG)))
    ).write.parquet(str(d / "baseline"))
    spark.catalog.clearCache()
    res = run_suite(
        spark.read.parquet(str(d / "docs")),
        spark.read.parquet(str(d / "media")),
        spark.read.parquet(str(d / "baseline")),
    )
    plan = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        res.verdicts._jdf.queryExecution(), "formatted"
    )
    yield _nodes(plan), str(d / "docs")
    res.release()


def test_exchange_budget(verdict_plan):
    nodes, _ = verdict_plan
    exchanges = [i for i, (op, _) in nodes.items() if op == "Exchange"]
    assert len(exchanges) == EXCHANGES, sorted(exchanges)


def test_source_scan_budget(verdict_plan):
    nodes, docs_path = verdict_plan
    scans = [i for i, (op, b) in nodes.items() if op == "Scan" and docs_path in b]
    assert len(scans) == SOURCE_SCANS, sorted(scans)


def test_one_aggregate_per_grain(verdict_plan):
    """Each grain's final partition_id aggregate names its row count."""
    nodes, _ = verdict_plan

    def final_aggs(alias: str) -> list[int]:
        return [
            i
            for i, (op, b) in nodes.items()
            if op.endswith("HashAggregate")
            and "Keys [1]: [partition_id" in b
            and re.search(rf"count\(1\)#\d+L AS {alias}#", b)
        ]

    assert len(final_aggs("n_docs")) == 1
    assert len(final_aggs("n_spans")) == 1
