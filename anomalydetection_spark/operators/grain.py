"""Fused per-grain constraint plan: one aggregate per grain.

Every constraint of the suite reduces to a handful of per-partition
numbers. Planned one constraint at a time, each re-groups the same rows by
``partition_id`` on its own (the doc-level constraints five times, the
span-level ones three times) and joins its own violation counts back.
Here each constraint contributes a ``Part`` — named aggregate
expressions, verdict expressions and violation tags — and ``fuse``
plans all selected parts together, the Deequ design (Schelter et al.,
VLDB 2018: all scan-shareable analyzers in one aggregation pass):

- doc grain: ONE ``groupBy(partition_id)`` over the documents (after an
  optional broadcast lookup join keyed by ``doc_id``);
- span grain: ONE ``groupBy(partition_id)`` over the exploded span view
  (after an optional lookup join keyed by ``media_ref``);
- keyed aggregates (drift histograms, hot-key counts) take their
  per-partition totals from the span-grain rows;
- the |partitions|-row results join with broadcast hints into one wide
  row per partition, which carries the verdict structs (one projection,
  emitted by ``inline``), the rollup, and the key-level violation details.

Violation counts are conditional sums inside the grain aggregates; the
violation ROWS come from one tagged pass per grain (an array of
``when(predicate, struct(constraint, detail))`` exploded, so clean rows
vanish) plus the key-level details of the wide row. Verdicts and
violations therefore read the same expressions and never each other.

An operator's standalone ``check()`` is ``fuse`` over its one part, so
per-constraint tests and constraint subsets exercise the suite's code path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the partition set a constraint's verdict rows cover
DOCS = "docs"    # partitions holding at least one document
SPANS = "spans"  # partitions holding at least one span
PARTS = "parts"  # the expected partition list when given, else DOCS

_KEY_ROWS = "array<struct<constraint:string,detail:string>>"


@dataclass(frozen=True)
class Part:
    """One constraint's share of the fused plan.

    Aggregates are name → expression; the names are columns of the wide
    per-partition row, next to ``n_docs`` (doc grain) and ``n_spans``
    (span grain), present whenever their grain is planned. Parts
    declaring the same name share one aggregate. ``verdict`` is (passed,
    violation_count, row_count, metrics) over the wide row."""

    constraint: str
    rows: str
    verdict: tuple[Column, Column, Column, Column]
    doc_aggs: dict[str, Column] = field(default_factory=dict)
    span_aggs: dict[str, Column] = field(default_factory=dict)
    # row-level violations: (predicate, detail) over the doc / span view
    doc_tag: tuple[Column, Column] | None = None
    span_tag: tuple[Column, Column] | None = None
    # key-level violations: array<string> of details over the wide row
    key_rows: Column | None = None
    # (key, frame) left-joined onto the doc / span view before aggregation;
    # the frame is unique on its key (its other columns are flags/values)
    doc_lookup: tuple[str, DataFrame] | None = None
    span_lookup: tuple[str, DataFrame] | None = None
    broadcast_lookup: bool = True
    # keyed aggregate: per span row an array of struct<grp, key> (NULL
    # entries dropped); ``key_grid`` maps the span partitions to rows
    # (partition_id, grp, key, q) every partition must carry; ``key_aggs``
    # aggregate the counted keys (partition_id, grp, key, n, q) joined
    # with the span-grain rows, per partition
    key_spans: Column | None = None
    key_grid: Callable[[DataFrame], DataFrame] | None = None
    key_aggs: dict[str, Column] = field(default_factory=dict)


@dataclass
class Fused:
    verdicts: DataFrame
    violations: DataFrame
    rollup: DataFrame
    persisted: list[DataFrame]


def n_rows() -> Column:
    """A grain's row count: ``n_docs`` / ``n_spans`` of the wide row."""
    return F.count(F.lit(1)).cast("long")


def _merged(aggs: Iterable[dict[str, Column]]) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for a in aggs:
        for name, col in a.items():
            out.setdefault(name, col)
    return out


def _tagger(constraint: str):
    return lambda d: F.struct(F.lit(constraint).alias("constraint"), d.alias("detail"))


def _tagged(view: DataFrame, tags: list[tuple[str, Column, Column]], pos: Column) -> DataFrame:
    """One pass emitting every tag's violation rows: per row an array of
    ``when(predicate, struct(constraint, detail))``, nulls dropped,
    exploded — a clean row yields nothing, a row violating k tags yields
    k rows."""
    arr = F.filter(
        F.array(*[F.when(pred, _tagger(c)(detail)) for c, pred, detail in tags]),
        lambda t: t.isNotNull(),
    )
    return view.select(
        "partition_id", "doc_id", pos.alias("pos"), F.explode(arr).alias("_t")
    ).select(
        "partition_id",
        F.col("_t.constraint").alias("constraint"),
        "doc_id",
        "pos",
        F.col("_t.detail").alias("detail"),
    )


def _keyed(spans: DataFrame, span_rows: DataFrame, parts: list[Part]) -> DataFrame:
    """ONE keyed aggregate for every keyed part: the span rows' key
    structs and the grid rows count together per (partition, grp, key) —
    a grid row counts 0, so the union is the full outer join of observed
    and expected keys, folded into the aggregate. The per-partition
    totals come from a broadcast of the span-grain rows, and one more
    aggregate reduces to a row per partition that also carries the
    span-grain columns (one empty presence row per partition keeps every
    partition with spans), so the wide row needs one join, not two."""
    keys = F.filter(F.concat(*[p.key_spans for p in parts]), lambda k: k.isNotNull())
    rows = spans.select("partition_id", F.explode(keys).alias("_g")).select(
        "partition_id",
        F.col("_g.grp").alias("grp"),
        F.col("_g.key").alias("key"),
        F.lit(1).alias("_w"),
        F.lit(None).cast("double").alias("q"),
    )
    pids = span_rows.select("partition_id")
    grids = [p.key_grid(pids) for p in parts if p.key_grid is not None]
    grids.append(
        pids.select(
            "partition_id",
            F.lit(None).cast("string").alias("grp"),
            F.lit(None).cast("string").alias("key"),
            F.lit(None).cast("double").alias("q"),
        )
    )
    for g in grids:
        rows = rows.unionByName(
            g.select("partition_id", "grp", "key", F.lit(0).alias("_w"), F.col("q").cast("double"))
        )
    counts = rows.groupBy(
        "partition_id",
        "grp",
        "key",
        # a NULL key matches nothing on the other side, as in a join
        F.when(F.col("key").isNull(), F.col("_w")).alias("_null_side"),
    ).agg(F.sum("_w").cast("long").alias("n"), F.max("q").alias("q"))
    carried = [F.first(c).alias(c) for c in span_rows.columns if c != "partition_id"]
    return (
        counts.join(F.broadcast(span_rows), "partition_id")
        .groupBy("partition_id")
        .agg(*carried, *[c.alias(n) for n, c in _merged(p.key_aggs for p in parts).items()])
    )


def fuse(
    docs: DataFrame | None,
    spans: DataFrame | None,
    parts: list[Part],
    expected_partitions: DataFrame | None = None,
    *,
    persist_spans: bool = False,
    persist_shared: bool = False,
    warn_constraints: tuple[str, ...] = (),
) -> Fused:
    """Plan ``parts`` as one aggregate per grain (module docstring).

    ``persist_spans`` caches the span view after its lookup join — every
    span consumer then reads the cache. ``persist_shared`` caches what
    the verdict and violation actions both consume (lookup frames and
    the wide row), so the second action re-reads instead of recomputing.
    The span-grain rows are cached whenever a keyed aggregate reads them
    next to the wide row (|partitions| rows), so the span pass runs once.
    Every cache taken is listed in ``Fused.persisted``."""
    persisted: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        df = df.persist()
        persisted.append(df)
        return df

    keyed = [p for p in parts if p.key_spans is not None]
    expect = expected_partitions is not None and any(p.rows == PARTS for p in parts)
    need_doc = any(
        p.doc_aggs or p.doc_tag is not None or p.rows == DOCS or (p.rows == PARTS and not expect)
        for p in parts
    )
    need_span = any(
        p.span_aggs or p.span_tag is not None or p.rows == SPANS or p.key_spans is not None
        for p in parts
    )
    doc_aggs = _merged([{"n_docs": n_rows()}, *(p.doc_aggs for p in parts)])
    span_aggs = _merged([{"n_spans": n_rows()}, *(p.span_aggs for p in parts)])

    def looked_up(view: DataFrame, attr: str, share: bool) -> DataFrame:
        for p in parts:
            if getattr(p, attr) is not None:
                key, frame = getattr(p, attr)
                if share:
                    frame = keep(frame)
                if p.broadcast_lookup:
                    frame = F.broadcast(frame)
                view = view.join(frame, key, "left")
        return view

    frames = []
    doc_view = span_view = None
    if need_doc:
        doc_view = looked_up(docs, "doc_lookup", persist_shared)
        frames.append(
            doc_view.groupBy("partition_id").agg(*[c.alias(n) for n, c in doc_aggs.items()])
        )
    if need_span:
        span_view = looked_up(spans, "span_lookup", persist_shared and not persist_spans)
        if persist_spans:
            span_view = keep(span_view)
        span_rows = span_view.groupBy("partition_id").agg(
            *[c.alias(n) for n, c in span_aggs.items()]
        )
        if keyed:
            # the keyed aggregate reads the (cached) span-grain rows and
            # carries them on; it skips the lookup join unless that is
            # cached anyway
            span_rows = _keyed(span_view if persist_spans else spans, keep(span_rows), keyed)
        frames.append(span_rows)
    wide = None
    if frames:
        wide = reduce(lambda a, b: a.join(F.broadcast(b), "partition_id", "left"), frames)
    if expect:
        exp = (
            expected_partitions.select("partition_id")
            .distinct()
            .withColumn("_expected", F.lit(True))
        )
        wide = exp if wide is None else wide.join(exp, "partition_id", "full_outer")

    present = {
        DOCS: F.col("n_docs").isNotNull() if need_doc else F.lit(False),
        SPANS: F.col("n_spans").isNotNull() if need_span else F.lit(False),
    }
    present[PARTS] = F.col("_expected").isNotNull() if expect else present[DOCS]

    verdict_rows = F.filter(
        F.array(
            *[
                F.when(
                    present[p.rows],
                    F.struct(
                        F.lit(p.constraint).alias("constraint"),
                        p.verdict[0].alias("passed"),
                        p.verdict[1].cast("long").alias("violation_count"),
                        p.verdict[2].cast("long").alias("row_count"),
                        p.verdict[3].alias("metrics"),
                    ),
                )
                for p in parts
            ]
        ),
        lambda r: r.isNotNull(),
    )
    key_parts = [p for p in parts if p.key_rows is not None]
    cols = [F.col("partition_id"), verdict_rows.alias("_verdicts")]
    if key_parts:
        empty = F.array().cast(_KEY_ROWS)
        cols.append(
            F.concat(
                *[
                    F.coalesce(
                        F.when(present[p.rows], F.transform(p.key_rows, _tagger(p.constraint))),
                        empty,
                    )
                    for p in key_parts
                ]
            ).alias("_keys")
        )
    wide = wide.select(*cols)
    if persist_shared:
        wide = keep(wide)
    # |partitions| rows: one partition, so an ordered verdict sink sorts
    # in place instead of range-partitioning
    wide = wide.coalesce(1)

    verdicts = wide.select("partition_id", F.inline("_verdicts"))

    # warn-level constraints report but do not gate the rollup's pass bit
    def gated(acc: Column, r: Column) -> Column:
        if warn_constraints:
            return acc & (r["passed"] | r["constraint"].isin(*warn_constraints))
        return acc & r["passed"]

    rollup = wide.filter(F.size("_verdicts") > 0).select(
        "partition_id",
        F.aggregate("_verdicts", F.lit(True), gated).alias("passed"),
        F.aggregate(
            "_verdicts", F.lit(0).cast("long"), lambda acc, r: acc + r["violation_count"]
        ).alias("violation_count"),
        F.array_max(F.transform("_verdicts", lambda r: r["row_count"])).alias("row_count"),
    )

    pieces = []
    span_tags = [(p.constraint, *p.span_tag) for p in parts if p.span_tag is not None]
    if span_tags:
        pieces.append(_tagged(span_view, span_tags, F.col("pos").cast("int")))
    doc_tags = [(p.constraint, *p.doc_tag) for p in parts if p.doc_tag is not None]
    if doc_tags:
        pieces.append(_tagged(doc_view, doc_tags, F.lit(None).cast("int")))
    if key_parts:
        pieces.append(
            wide.select("partition_id", F.explode("_keys").alias("_k")).select(
                "partition_id",
                F.col("_k.constraint").alias("constraint"),
                F.lit(None).cast("string").alias("doc_id"),
                F.lit(None).cast("int").alias("pos"),
                F.col("_k.detail").alias("detail"),
            )
        )
    if pieces:
        violations = reduce(DataFrame.unionByName, pieces)
    else:
        violations = wide.sparkSession.createDataFrame(
            [], "partition_id int, constraint string, doc_id string, pos int, detail string"
        )
    return Fused(verdicts, violations, rollup, persisted)
