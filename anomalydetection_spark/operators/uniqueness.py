"""doc_id uniqueness via a salted two-phase aggregate.

Generalizes the reference's group-count + threshold filter
(``value_counts`` + ``isin``, preprocessing.py:4-13) into a global key
constraint. Violations are the duplicated keys (materialized, not dropped).

Skew design (SURVEY §4 O10): a plain ``groupBy(doc_id).count`` already gets
map-side partial aggregation for the count itself, but the violation
report also collects *which partitions* each duplicate lands in —
``collect_set`` partials on one hot key all route to one reducer. The salt
splits a hot key across S reducers in phase 1; phase 2 merges the (tiny)
per-salt partials. On a 1000-executor cluster with a pathological hot
doc_id this caps any single task's input at ~1/S of the hot key's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators.grain import DOCS, Part, fuse

CONSTRAINT = "uniqueness"


def salted_duplicates(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Generic salted two-phase duplicate finder: (key, n) rows with n > 1.

    Phase 1 groups by (key, salt) — a hot key splits across ``n_salts``
    reducers — phase 2 merges the per-salt partial counts. The salt is
    derived from a hash of the key's monotonically varying row id proxy via
    ``spark_partition_id``-free arithmetic: a hash of the row's full tuple
    would be ideal but any value that distributes a hot key works; we use
    ``rand``-free deterministic ``xxhash64`` over the key plus a per-row
    uniformizer (``monotonically_increasing_id`` is avoided — it is
    partitioning-dependent; instead the *values* of other columns are not
    needed because phase-1 count partials are already tiny per salt).
    """
    salted = df.select(
        F.col(key),
        F.pmod(F.xxhash64(F.spark_partition_id(), F.lit("dupsalt")), F.lit(n_salts)).alias(
            "_salt"
        ),
    )
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("n_partial"))
    return (
        partial.groupBy(key)
        .agg(F.sum("n_partial").cast("long").alias("n"))
        .filter(F.col("n") > 1)
    )


def duplicate_keys(docs: DataFrame, n_salts: int = 16) -> DataFrame:
    """(doc_id, n, partition_ids) for every doc_id appearing more than once.

    The salt derives from ``spark_partition_id()`` (the physical task id),
    NOT the data's ``partition_id`` column: a hot doc_id concentrated in one
    Iceberg partition would map to a single salt value and defeat the split,
    whereas a hot key's rows always span many physical input tasks.
    """
    salted = docs.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.spark_partition_id(), F.lit("uniq-salt")), F.lit(n_salts)),
    )
    partial = salted.groupBy("doc_id", "_salt").agg(
        F.count("*").alias("n_partial"),
        F.collect_set("partition_id").alias("parts_partial"),
    )
    final = partial.groupBy("doc_id").agg(
        F.sum("n_partial").cast("long").alias("n"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("parts_partial")))).alias(
            "partition_ids"
        ),
    )
    return final.filter(F.col("n") > 1)


def part(scope_docs: DataFrame, n_salts: int = 16) -> Part:
    """uniqueness as a fused-plan part (operators/grain.py): the salted
    duplicate set over ``scope_docs`` is broadcast-joined onto the doc
    view by ``doc_id``, so the doc-grain aggregate counts each
    partition's duplicate rows and the doc-level tagged pass emits them.
    The dup-key set is small relative to the table (it's a *constraint*
    violation), which is what makes the broadcast safe."""
    dups = duplicate_keys(scope_docs, n_salts=n_salts).select(
        "doc_id", F.col("n").alias("_dup_n")
    )
    is_dup = F.col("_dup_n").isNotNull()
    vc = F.col("n_dup_rows")
    return Part(
        CONSTRAINT,
        DOCS,
        (
            vc == 0,
            vc,
            F.col("n_docs"),
            F.create_map(F.lit("duplicate_row_rate"), vc / F.col("n_docs")),
        ),
        doc_aggs={"n_dup_rows": F.sum(F.when(is_dup, 1).otherwise(0)).cast("long")},
        doc_tag=(
            is_dup,
            F.concat(
                F.lit("doc_id occurs "), F.col("_dup_n").cast("string"), F.lit(" times")
            ),
        ),
        doc_lookup=("doc_id", dups),
    )


def check(
    docs: DataFrame, n_salts: int = 16, scope_docs: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """uniqueness constraint → (verdicts, violations).

    Violation rows carry the partition the offending row lives in, so the
    per-partition verdict counts every physical duplicate row.

    ``scope_docs``: the table over which duplicate *detection* runs
    (defaults to ``docs``). A resumed run passes the FULL table here while
    ``docs`` holds only the unfinished partitions — uniqueness is global,
    so a duplicate spanning a done and a pending partition must still be
    flagged in the pending partition's verdict.
    """
    scope = scope_docs if scope_docs is not None else docs
    fused = fuse(docs, None, [part(scope, n_salts)])
    return fused.verdicts, fused.violations


def fd_audit(df: DataFrame, determinant: str, dependent: str) -> DataFrame:
    """Functional-dependency audit: does ``determinant → dependent`` hold?

    Uniqueness generalized: a key column must determine its dependents
    even when the key itself legitimately repeats (user → country,
    order → status, doc → language). A violated FD is how denormalized
    tables silently fork: the same key carries two versions of the truth
    and every join afterwards picks one at random.

    One summary row: (determinant, dependent, n_keys, n_violating_keys,
    max_distinct, fd_holds). NULL dependents are ignored (a key whose only
    dependent is NULL has n_vals 0 and violates nothing — missingness is
    column_stats' jurisdiction, not consistency's).

    Scale: groupBy(determinant) + count(DISTINCT dependent) plans as the
    standard two-phase Expand aggregate (map-side partial distinct), then
    a scalar fold over |keys| rows. One scan of two columns, no joins.
    """
    per_key = df.groupBy(determinant).agg(
        F.countDistinct(dependent).alias("_n_vals")
    )
    return per_key.agg(
        F.lit(determinant).alias("determinant"),
        F.lit(dependent).alias("dependent"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("_n_vals") > 1).cast("long")).alias("n_violating_keys"),
        F.max("_n_vals").cast("long").alias("max_distinct"),
        (F.sum((F.col("_n_vals") > 1).cast("long")) == 0).alias("fd_holds"),
    )
