"""Benchmark workloads: the engine driven through its public functions only,
each call timed from outside.

Run through ``perfbench/run.py`` (which sets up the environment, enforces
the deadline and prints the result line); this module is the worker that
process starts. Workloads:

- ``suite_scan``: the default 10-constraint ``run_suite`` over a parquet
  documents table (32 partitions, one drifted, hot-key share raised), each
  pass writing verdicts and violations to parquet as ``validate.py`` does.
  Per-document operator work; docstore, manifest and WAP do nothing.
- ``ingest``: a docstore table written one file per partition and one
  cold ``run_docstore_incremental`` pass over it. Fixed per-call costs
  dominate.

The traced run (``--trace 1``) adds the per-layer measurements: a warm
pass, standalone per-constraint suites and a 1-core pass on
``suite_scan``; on ``ingest`` one follow-up per run, chosen by the seed
(an append then an incremental revalidation, or a write-audit-publish
batch that must publish or be blocked, then the docstore scan comparison
and the sketch-blob build).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

from spans import Tracer, dir_bytes, event_log_conf, event_logs, peak_rss_mb  # noqa: E402

# Sizes. Every Spark job costs 0.3-0.8 s on a 4-CPU host and one ingest
# call submits 50-110 of them, so the ingest table stays small: its calls
# cost the same at 1.6k docs as at 64k. The suite_scan table is as large
# as the run-time budget allows.
SIZES = {
    "full": {"scan_docs": 8_000, "ingest_docs": 1_600, "ingest_parts": 4, "batch_docs": 400},
    "tiny": {"scan_docs": 2_000, "ingest_docs": 200, "ingest_parts": 2, "batch_docs": 50},
}
SCAN_PARTITIONS = 32
SCAN_HOT_RATE = 0.05  # datagen default 0.01: the salted uniqueness agg sees real skew
SETUP_REPS = 2
MASTER = "local[4]"

# metrics the JSON line carries, by mode (BENCHMARK.json lists the same)
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}
CONSTRAINTS = (
    "schema", "column_stats", "uniqueness", "referential", "distribution_drift",
    "span_order", "frequent_items", "pattern", "cross_column", "volume",
)
PER_LAYER = {
    "session.start_s": "s",
    "datagen.gen_s": "s",
    "suite.plan_s": "s",
    "suite.verdicts_s": "s",
    "suite.violations_s": "s",
    "suite.jobs": "count",
    "suite.tasks": "count",
    "suite.input_bytes": "bytes",
    "suite.shuffle_bytes": "bytes",
    "suite.gc_s": "s",
    "suite.docs_per_s_1core": "docs/s",
    "suite.scaling_eff": "ratio",
    **{f"operators.{c}_s": "s" for c in CONSTRAINTS},
    "operators.explode_s": "s",
    "operators.uniqueness_max_task_ratio": "ratio",
    "docstore.scan_s": "s",
    "docstore.scan_vs_parquet": "ratio",
    "docstore.metadata_s": "s",
    "docstore.files": "count",
    "docstore.metadata_bytes": "bytes",
    "docstore.bytes_per_user_byte": "ratio",
    "manifest.sketch_s": "s",
    "manifest.jobs": "count",
    "manifest.revalidate_s": "s",
    "manifest.revalidated_partitions": "count",
    "manifest.scope_partitions": "count",
    "manifest.scope_ratio": "ratio",
    "manifest.state_bytes": "bytes",
    "wap.batch_s": "s",
    "wap.jobs": "count",
    "wap.audited_partitions": "count",
    "wap.published": "count",
    "wap.blocked": "count",
    "trace.spans": "count",
    "trace.overhead_frac": "ratio",
}


class CheckFailed(Exception):
    """An operation's output disagreed with what the workload expects."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Run:
    """One workload run: session, work directory, timers, op accounting."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES["tiny" if args.tiny else "full"]
        self.work = Path(args.work).resolve()
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.event_logs = self.work / "eventlog"
        # spans whose Spark counters feed per-layer metrics after the run
        self.marks: dict[str, dict] = {}

    # ---- session -------------------------------------------------------

    def start_session(self, master: str = MASTER):
        from anomalydetection_spark.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
        if self.tracer:
            conf.update(event_log_conf(self.event_logs))
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self.tracer.bind(self.spark.sparkContext)
        if self.jvm_pid is None:
            proc = getattr(self.spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
            self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001

    # ---- timing --------------------------------------------------------

    @contextmanager
    def timed(self, name: str):
        """Time a block; in the traced run it is also a span."""
        box = {"s": 0.0, "span": None}
        cm = self.tracer.span(name) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        with cm as sp:
            box["span"] = sp
            yield box
        box["s"] = time.perf_counter() - t0

    @contextmanager
    def operation(self, what: str):
        """Count one attempted operation; an exception or failed check in it
        counts as failed and is reported on stderr."""
        self.attempted += 1
        try:
            yield
        except Exception as e:
            self.failed += 1
            e.counted = True
            print(f"perfbench: operation '{what}' failed", file=sys.stderr)
            raise

    def setup_inputs(self, write_inputs) -> Path:
        """Session start plus SETUP_REPS input set-ups; setup_s is the
        session start plus the median set-up. The repeat also leaves the JVM
        as warm before every cold pass, which steadies ``first_pass_s``."""
        with self.timed("session.start") as t:
            self.start_session()
        gens = []
        # the traced run reports no setup_s and needs its time for the extras
        for rep in range(1 if self.tracer else SETUP_REPS):
            with self.timed("datagen.gen") as g:
                write_inputs(self.work / f"input{rep}")
            gens.append(g["s"])
        self.layer["session.start_s"] = t["s"]
        self.layer["datagen.gen_s"] = statistics.median(gens)
        self.e2e["setup_s"] = t["s"] + statistics.median(gens)
        return self.work / "input0"


# ---------------------------------------------------------------------------
# suite_scan


def _oracle_expectations(spark, docs, media, baseline_docs, parts: list[int]) -> dict:
    """Per-(partition, constraint) verdict facts from the pandas oracle for
    the sampled partitions: (passed, violation_count). Uniqueness is global,
    so its oracle sees every (doc_id, partition_id)."""
    from pyspark.sql import functions as F

    from anomalydetection_spark import oracle
    from anomalydetection_spark.operators.drift import DriftThresholds
    from anomalydetection_spark.operators.freqitems import FreqThresholds
    from anomalydetection_spark.operators.patterns import PatternThresholds
    from anomalydetection_spark.operators.stats import StatsThresholds

    pdocs = docs.filter(F.col("partition_id").isin(parts)).toPandas()
    pdocs["spans"] = pdocs["spans"].apply(
        lambda arr: [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in arr
        ]
    )
    psp = oracle.explode(pdocs)
    ids = docs.select("doc_id", "partition_id").toPandas()
    pmedia = media.toPandas()
    base_sp = baseline_docs.select(
        F.explode("spans").alias("s")
    ).select("s.kind", "s.text").toPandas()

    def counts(frame) -> dict[int, int]:
        return frame.groupby("partition_id").size().to_dict() if len(frame) else {}

    want: dict[tuple[int, str], tuple[bool, int]] = {}
    for _, r in oracle.stats_metrics(pdocs, psp, StatsThresholds()).iterrows():
        want[(int(r["partition_id"]), "column_stats")] = (bool(r["passed"]), int(r["violation_count"]))
    row_level = {
        "uniqueness": counts(oracle.uniqueness_violations(ids)),
        "referential": counts(oracle.referential_violations(psp, pmedia)),
        "span_order": counts(oracle.span_order_violations(pdocs)),
        "pattern": counts(oracle.pattern_violations(psp, PatternThresholds().ref_pattern)),
        "cross_column": counts(oracle.cross_column_violations(psp)),
    }
    for c, by_part in row_level.items():
        for p in parts:
            n = int(by_part.get(p, 0))
            want[(p, c)] = (n == 0, n)
    th = DriftThresholds()
    for p, g in oracle.drift_scores(psp, base_sp, th).groupby("partition_id"):
        bad = int(((g["kl"] > th.max_kl) | (g["psi"] > th.max_psi)).sum())
        want[(int(p), "distribution_drift")] = (bad == 0, bad)
    fq = FreqThresholds()
    for _, r in oracle.frequent_items_verdicts(psp, fq.max_ref_share, fq.min_refs).iterrows():
        want[(int(r["partition_id"]), "frequent_items")] = (bool(r["passed"]), int(r["violation_count"]))
    for _, r in oracle.volume_verdicts(pdocs).iterrows():
        want[(int(r["partition_id"]), "volume")] = (bool(r["passed"]), int(r["violation_count"]))
    for p in parts:
        want[(p, "schema")] = (True, 0)
    return want


def _read_pass_output(spark, out: Path, parts: list[int]):
    """Every verdict's (passed, violation_count), and the violation-row
    counts of ``parts``, read back from a pass's parquet sinks."""
    from pyspark.sql import functions as F

    rows = spark.read.parquet(str(out / "verdicts")).collect()
    verdicts = {(r["partition_id"], r["constraint"]): (r["passed"], r["violation_count"]) for r in rows}
    viol = {
        (r["partition_id"], r["constraint"]): r["n"]
        for r in spark.read.parquet(str(out / "violations"))
        .filter(F.col("partition_id").isin(parts))
        .groupBy("partition_id", "constraint").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return verdicts, viol


def suite_scan(run: Run) -> None:
    from pyspark.sql import functions as F

    from anomalydetection_spark.datagen import (
        DataGenConfig, clean_config, generate_documents, generate_media_assets,
    )
    from anomalydetection_spark.operators import drift, reassembly
    from anomalydetection_spark.plans.suite import run_suite

    seed = run.args.seed
    n_docs = run.size["scan_docs"]
    drifted = seed % SCAN_PARTITIONS
    cfg = DataGenConfig(
        n_docs=n_docs, n_partitions=SCAN_PARTITIONS, seed=seed,
        hot_rate=SCAN_HOT_RATE, drift_partitions=(drifted,),
    )

    def write_inputs(d: Path) -> None:
        spark = run.spark
        generate_documents(spark, cfg).write.mode("overwrite").parquet(str(d / "docs"))
        generate_media_assets(spark, cfg).write.mode("overwrite").parquet(str(d / "media"))
        drift.compute_baseline(
            reassembly.explode_spans_meta(generate_documents(spark, clean_config(cfg)))
        ).write.mode("overwrite").parquet(str(d / "baseline"))

    inp = run.setup_inputs(write_inputs)
    spark = run.spark
    docs = spark.read.parquet(str(inp / "docs"))
    media = spark.read.parquet(str(inp / "media"))
    baseline = spark.read.parquet(str(inp / "baseline"))

    # expected outputs, outside every timed region
    sample = sorted({drifted, (drifted + SCAN_PARTITIONS // 2) % SCAN_PARTITIONS})
    want = _oracle_expectations(
        spark, docs, media, generate_documents(spark, clean_config(cfg)), sample
    )
    reference: dict = {}

    def one_pass(i: int, label: str) -> float:
        out = run.work / f"out{i % 2}"
        with run.operation(f"{label} pass {i}"):
            with run.timed(label) as t:
                with run.timed("suite.plan") as p:
                    res = run_suite(docs, media, baseline)
                with run.timed("suite.verdicts") as v:
                    res.verdicts.orderBy("partition_id", "constraint").write.mode(
                        "overwrite"
                    ).parquet(str(out / "verdicts"))
                with run.timed("suite.violations") as w:
                    res.violations.write.mode("overwrite").partitionBy(
                        "constraint"
                    ).parquet(str(out / "violations"))
            # cached span views and violation frames belong to this pass
            spark.catalog.clearCache()
            verdicts, viol = _read_pass_output(spark, out, sample)
            expect(len(verdicts) == SCAN_PARTITIONS * len(CONSTRAINTS),
                   f"{len(verdicts)} verdict rows")
            for key, (passed, n) in want.items():
                expect(verdicts.get(key) == (passed, n),
                       f"verdict {key}: engine {verdicts.get(key)} oracle {(passed, n)}")
                if key[1] in ("uniqueness", "referential", "span_order", "pattern",
                              "cross_column", "column_stats"):
                    expect(viol.get(key, 0) == n, f"violation rows {key}: {viol.get(key, 0)} != {n}")
            expect(not verdicts[(drifted, "distribution_drift")][0], "drifted partition passed drift")
            if reference:
                expect(verdicts == reference, "verdicts differ from the first pass")
            else:
                reference.update(verdicts)
        if label == "suite.warm_pass":
            run.layer["suite.plan_s"] = p["s"]
            run.layer["suite.verdicts_s"] = v["s"]
            run.layer["suite.violations_s"] = w["s"]
            run.marks["suite"] = t["span"]
        return t["s"]

    passes, t_end = [], time.perf_counter() + run.args.seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(one_pass(len(passes), "suite.pass"))
    run.e2e["first_pass_s"] = passes[0]
    run.e2e["docs_per_s"] = statistics.median(n_docs / s for s in passes)
    run.e2e["peak_rss_mb"] = peak_rss_mb(run.jvm_pid)

    if not run.tracer:
        return
    # per-layer extras: a warm pass to attribute, standalone constraints,
    # the explode, and the same warm pass at one core
    warm = one_pass(len(passes), "suite.warm_pass")
    for c in CONSTRAINTS:
        with run.operation(f"constraint {c}"):
            with run.timed(f"operators.{c}") as t:
                res = run_suite(docs, media, baseline, constraints=[c])
                res.verdicts.collect()
                res.violations.write.mode("overwrite").parquet(str(run.work / "one" / c))
            spark.catalog.clearCache()
        run.layer[f"operators.{c}_s"] = t["s"]
        if c == "uniqueness":
            run.marks["uniqueness"] = t["span"]
    with run.operation("explode"):
        with run.timed("operators.explode") as t:
            reassembly.explode_spans_meta(docs).agg(
                F.count(F.lit(1)), F.sum("text_len")
            ).collect()
    run.layer["operators.explode_s"] = t["s"]

    run.stop_session()
    run.start_session("local[1]")
    spark = run.spark
    docs = spark.read.parquet(str(inp / "docs"))
    media = spark.read.parquet(str(inp / "media"))
    baseline = spark.read.parquet(str(inp / "baseline"))
    one_core = one_pass(len(passes) + 1, "suite.pass_1core")
    run.layer["suite.docs_per_s_1core"] = n_docs / one_core
    run.layer["suite.scaling_eff"] = one_core / (4 * warm)


# ---------------------------------------------------------------------------
# ingest


def _batch(spark, seed: int, n: int, pid: int, tag: str, dangling: bool):
    """One datagen batch for partition ``pid`` with ids no other batch or
    the base table uses; ``dangling`` injects media refs outside the
    catalog through datagen's own knob."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from anomalydetection_spark.datagen import DataGenConfig, clean_config, generate_documents

    cfg = clean_config(DataGenConfig(n_docs=n, n_partitions=1, seed=seed))
    if dangling:
        cfg = replace(cfg, dangling_rate=0.3)
    return (
        generate_documents(spark, cfg)
        .withColumn("doc_id", F.concat(F.lit(f"{tag}-"), F.col("doc_id")))
        .withColumn("partition_id", F.lit(pid).cast("int"))
    )


def ingest(run: Run) -> None:
    from pyspark.sql import functions as F

    from anomalydetection_spark.datagen import (
        DataGenConfig, clean_config, generate_documents, generate_media_assets,
    )
    from anomalydetection_spark.operators import drift, reassembly
    from anomalydetection_spark.plans import manifest as manifest_mod
    from anomalydetection_spark.plans import wap as wap_mod
    from anomalydetection_spark.sources import docstore as ds
    from anomalydetection_spark.sources.io import write_table

    seed = run.args.seed
    n_docs, n_parts, n_batch = (
        run.size["ingest_docs"], run.size["ingest_parts"], run.size["batch_docs"],
    )
    cfg = clean_config(DataGenConfig(n_docs=n_docs, n_partitions=n_parts, seed=seed))

    def write_inputs(d: Path) -> None:
        spark = run.spark
        docs = generate_documents(spark, cfg).repartitionByRange(n_parts, "partition_id")
        write_table(docs, str(d / "table"), fmt="docstore")
        generate_media_assets(spark, cfg).write.mode("overwrite").parquet(str(d / "media"))
        drift.compute_baseline(
            reassembly.explode_spans_meta(generate_documents(spark, cfg))
        ).write.mode("overwrite").parquet(str(d / "baseline"))

    inp = run.setup_inputs(write_inputs)
    spark = run.spark
    table = str(inp / "table")
    media = spark.read.parquet(str(inp / "media"))
    baseline = spark.read.parquet(str(inp / "baseline"))
    validator = manifest_mod.ResumableValidator(
        spark, str(run.work / "state"), str(run.work / "validated")
    )

    def main_count() -> int:
        return spark.read.format("docstore").option("path", table).load().count()

    if run.tracer:
        tr = run.tracer
        tr.wrap(manifest_mod, "run_suite", "suite.plan")
        tr.wrap(wap_mod, "run_suite", "suite.plan")
        tr.wrap(manifest_mod, "blooms_containing_any", "manifest.bloom_probe")
        for fn in ("changed_partitions", "partition_values", "load_manifest"):
            tr.wrap(ds, fn, f"docstore.meta.{fn}")

    with run.operation("first pass"):
        with run.timed("manifest.first_pass") as t:
            s1 = validator.run_docstore_incremental(table, media, baseline)
        expect(s1["validated_partitions"] == list(range(n_parts)),
               f"first pass validated {s1['validated_partitions']}")
        failed = spark.read.parquet(str(run.work / "validated" / "verdicts")).filter(
            ~F.col("passed")
        ).count()
        expect(failed == 0, f"{failed} failing verdicts on the clean base table")
    run.e2e["first_pass_s"] = t["s"]
    run.e2e["docs_per_s"] = n_docs / t["s"]
    run.e2e["peak_rss_mb"] = peak_rss_mb(run.jvm_pid)
    if not run.tracer:
        return

    # One follow-up per traced run keeps it inside the run deadline. Even
    # seeds: a clean batch appended to one partition, then the incremental
    # revalidation. Odd seeds: a write-audit-publish batch, clean (must
    # publish) when seed % 4 == 1, with dangling media refs (must be
    # blocked) when seed % 4 == 3; then the docstore scan comparison and the
    # sketch-blob build.
    pid = seed % n_parts
    if seed % 2 == 0:
        batch = _batch(spark, seed * 1000, n_batch, pid, f"b{seed}", dangling=False)
        with run.operation("append"):
            batch.write.format("docstore").option("path", table).mode("append").save()
            expect(main_count() == n_docs + n_batch, "main row count after the append")
        with run.operation("revalidation"):
            with run.timed("manifest.revalidate") as t:
                s2 = validator.run_docstore_incremental(table, media, baseline)
            expect(s2["validated_partitions"] == [pid], f"revalidated {s2['validated_partitions']}")
            # the grown partition is still clean: every constraint passes,
            # and volume counts the base rows plus the batch
            got = {
                v["constraint"]: v
                for v in spark.read.parquet(str(run.work / "validated" / "verdicts"))
                .filter(F.col("partition_id") == pid).collect()
            }
            expect(sorted(got) == sorted(CONSTRAINTS), f"verdicts for {sorted(got)}")
            expect(all(v["passed"] and v["violation_count"] == 0 for v in got.values()),
                   "a constraint failed on the clean partition")
            expect(got["volume"]["row_count"] == n_docs // n_parts + n_batch, "volume row count")
        run.layer["manifest.revalidate_s"] = t["s"]
        run.layer["manifest.revalidated_partitions"] = len(s2["validated_partitions"])
        scope = s2.get("uniqueness_scope_partitions") or []
        run.layer["manifest.scope_partitions"] = len(scope)
        run.layer["manifest.scope_ratio"] = len(scope) / n_parts
        run.marks["manifest"] = t["span"]
    else:
        dangling = seed % 4 == 3
        batch = _batch(spark, seed * 1000, n_batch, pid, f"b{seed}", dangling)
        with run.operation("wap batch"):
            with run.timed("wap.batch") as t:
                res = wap_mod.write_audit_publish(spark, table, batch, media, baseline)
            expect(res["audited_partitions"] == [pid], f"audited {res['audited_partitions']}")
            failing = {v["constraint"] for v in res["verdicts"] if not v["passed"]}
            if dangling:
                expect(not res["published"], "batch with dangling refs was published")
                expect(failing == {"referential"}, f"blocked on {sorted(failing)}")
                ds.drop_ref(table, res["branch"])
            else:
                expect(res["published"], f"clean batch blocked on {sorted(failing)}")
            expect(main_count() == n_docs + (0 if dangling else n_batch), "main row count")
        run.layer["wap.batch_s"] = t["s"]
        run.layer["wap.audited_partitions"] = len(res["audited_partitions"])
        run.layer["wap.published" if res["published"] else "wap.blocked"] = 1
        run.marks["wap"] = t["span"]
        scan_and_sketch(run, table, pid, main_count())

    tr.unwrap()
    plans = [sp["end"] - sp["start"] for sp in tr.find("suite.plan")]
    run.layer["suite.plan_s"] = statistics.median(plans)
    # outermost metadata calls only: load_manifest also runs inside the others
    meta = {sp["id"]: sp for sp in tr.spans if sp["name"].startswith("docstore.meta.")}
    run.layer["docstore.metadata_s"] = sum(
        sp["end"] - sp["start"] for sp in meta.values()
        if sp["parent"] is not None and sp["parent"] not in meta
    )
    m = ds.load_manifest(table)
    data_bytes = sum(os.path.getsize(os.path.join(table, f["path"])) for f in m["files"])
    total = dir_bytes(table)
    run.layer["docstore.files"] = len(m["files"])
    run.layer["docstore.metadata_bytes"] = sum(
        p.stat().st_size for p in Path(table).rglob("*")
        if p.is_file() and not p.name.startswith("data-")
    )
    run.layer["docstore.bytes_per_user_byte"] = total / data_bytes
    run.layer["manifest.state_bytes"] = dir_bytes(run.work / "state")


def scan_and_sketch(run: Run, table: str, pid: int, rows: int) -> None:
    """Per-layer docstore and manifest probes: a docstore scan against a
    parquet copy of the same rows, and the sketch-blob build for one
    partition."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.operators import reassembly
    from anomalydetection_spark.plans import manifest as manifest_mod

    spark = run.spark
    # docstore scan against a parquet copy of the same rows
    with run.operation("docstore scan"):
        pq = str(run.work / "main_copy")
        current = spark.read.format("docstore").option("path", table).load()
        current.write.mode("overwrite").parquet(pq)

        def scan(df) -> tuple:
            return tuple(df.agg(F.count(F.lit(1)), F.sum(F.size("spans"))).collect()[0])

        with run.timed("docstore.scan") as d:
            a = scan(spark.read.format("docstore").option("path", table).load())
        with run.timed("parquet.scan") as q:
            b = scan(spark.read.parquet(pq))
        expect(a == b and a[0] == rows, f"docstore scan {a} vs parquet {b}")
    run.layer["docstore.scan_s"] = d["s"]
    run.layer["docstore.scan_vs_parquet"] = d["s"] / q["s"]

    with run.operation("sketch blobs"):
        part = spark.read.format("docstore").option("path", table).load().filter(
            F.col("partition_id") == pid
        )
        with run.timed("manifest.sketch") as k:
            blobs = manifest_mod.group_sketch_blobs(
                reassembly.explode_spans_meta(part, outer=True).select(
                    "doc_id", "partition_id", "pos", "text_len", "media_ref"
                )
            ).collect()
        expect([b["partition_id"] for b in blobs] == [pid], "one blob row for the partition")
    run.layer["manifest.sketch_s"] = k["s"]


WORKLOADS = {"suite_scan": suite_scan, "ingest": ingest}


def finish_trace(run: Run) -> None:
    """Attribute Spark counters to spans, fill the counter-derived metrics
    and write the span file."""
    tr = run.tracer
    tr.attribute(event_logs(run.event_logs))
    tr.finish()
    L, marks = run.layer, run.marks
    if "suite" in marks:
        for key in ("jobs", "tasks", "input_bytes", "shuffle_bytes", "gc_s"):
            L[f"suite.{key}"] = tr.total(marks["suite"], key)
    if "uniqueness" in marks:
        L["operators.uniqueness_max_task_ratio"] = tr.max_task_ratio(marks["uniqueness"])
    if "manifest" in marks:
        L["manifest.jobs"] = tr.total(marks["manifest"], "jobs")
    if "wap" in marks:
        L["wap.jobs"] = tr.total(marks["wap"], "jobs")
    L["trace.spans"] = len(tr.spans)
    L["trace.overhead_frac"] = overhead(run)
    tr.write(run.work.parent / "traces" / f"{run.args.workload}-seed{run.args.seed}.spans.jsonl")


def overhead(run: Run) -> float:
    """Traced cold pass over the last untraced cold pass of this workload,
    minus one; without an untraced run on record, the tracer's own
    bookkeeping time as a share of the traced run."""
    last = run.work.parent / f"untraced-{run.args.workload}.json"
    if last.exists():
        prev = json.loads(last.read_text()).get("first_pass_s")
        if prev:
            return run.e2e["first_pass_s"] / prev - 1.0
    wall = max(sp["end"] for sp in run.tracer.spans) - min(sp["start"] for sp in run.tracer.spans)
    return run.tracer.bookkeeping_s / wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True, help="scratch directory for this run")
    ap.add_argument("--result", required=True, help="where to write the result JSON")
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    run = Run(args)
    ok = True
    try:
        WORKLOADS[args.workload](run)
    except Exception as e:  # noqa: BLE001 - reported in the result line
        ok = False
        traceback.print_exc()
        if not getattr(e, "counted", False):  # failed outside any operation
            run.attempted += 1
            run.failed += 1
    finally:
        if run.tracer:
            run.tracer.unwrap()
        run.shutdown()
    if run.tracer and ok:
        finish_trace(run)
    names = PER_LAYER if args.trace else END_TO_END
    values = run.layer if args.trace else run.e2e
    result = {
        "correct": ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items() if k in values},
    }
    if not args.trace and ok:
        (run.work.parent / f"untraced-{args.workload}.json").write_text(json.dumps(run.e2e))
    Path(args.result).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
