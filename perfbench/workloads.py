"""The benchmark's workloads, driven through the package's public API.

Both workloads read inputs that each run generates from its seed with
``sources/synth.py``. Each has a set-up round (registration, engine, first
compile, one warm-up op) and an op that is timed. Every op is checked against
counts known without the engine (``oracle.py``); a mismatch or an error
counts the op as failed and the run goes on.
"""

from __future__ import annotations

import functools
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from fhir_data_validation_spark import RuleSet, ValidationEngine
from fhir_data_validation_spark.compiler import compile_ruleset
from fhir_data_validation_spark.engine import (build_verdicts,
                                               dedupe_violations,
                                               predicate_violations)
from fhir_data_validation_spark.lineage import ResumableRun
from fhir_data_validation_spark.rulesets import default_token_ruleset
from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
from fhir_data_validation_spark.sources.synth import (dirty_token_table,
                                                      sources_dim,
                                                      stats_baseline,
                                                      token_table)
from fhir_data_validation_spark.streaming.snapshot_poll import \
    SnapshotMonitor

from perfbench import oracle

WHY = {
    "corpus_scan": (
        "North-star batch job: repeated full validate of one pinned "
        "4,000-row Iceberg snapshot (~5% bad rows). At this size the op is "
        "fixed per-validate cost: some 18 Spark jobs (the fused predicate "
        "scan, the dataset plans Unique, Reference, RequiredResources and "
        "Drift, the verdicts), each paying job scheduling. Per-row scan work "
        "is a few percent (ten times the rows added under a second), so "
        "this catches cuts in the jobs the scan and the plans run, not "
        "faster per-row predicates."),
    "append_stream": (
        "Writes beside reads: append a small seeded batch to a table that "
        "set-up created empty, then SnapshotMonitor.poll_once validates only "
        "that delta through incremental(). Per-commit fixed costs dominate "
        "(Iceberg metadata and Avro I/O, incremental planning, the compile "
        "cache, Spark job scheduling); the scan does little. A run makes a "
        "handful of commits, so it does not measure growth with a long "
        "commit history."),
}
FLOOD_WHY = (
    "Traced corpus_scan runs end with one lineage.ResumableRun of the "
    "tightened flood rules over the same snapshot: most rows violate "
    "several times, so violation building, dedupe, persistence and "
    "lineage writes dominate. It is a per-layer probe, not a timed "
    "workload (see perfbench/README.md).")


@dataclass
class Sizes:
    corpus_rows: int
    batch_rows: int
    batches: int = 4


@dataclass
class OpOut:
    wall: float
    rows: int
    counts: dict
    verdict_rows: int
    violations: int = field(init=False)

    def __post_init__(self):
        self.violations = sum(self.counts.values())


def _count_by_rule(violations) -> dict:
    return {(r["rule_id"], r["error_code"]): r["count"]
            for r in violations.groupBy("rule_id", "error_code")
                               .count().collect()}


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _parquet_files(d: Path) -> list[str]:
    return sorted(str(p) for p in d.rglob("*.parquet"))


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def generate_inputs(spark, workload: str, sizes: Sizes, seed: int,
                    cores: int, out: Path) -> None:
    """Generate a workload's inputs with sources/synth.py."""
    if workload == "corpus_scan":
        n = sizes.corpus_rows
        (dirty_token_table(spark, n, seed=seed, partitions=cores)
         .drop("_row_id").write.parquet(str(out / "corpus")))
        # F6: drift baseline from a clean generation, other seed
        (stats_baseline(token_table(spark, n, seed=seed + 7919,
                                    partitions=cores))
         .write.parquet(str(out / "baseline")))
    else:
        b, nb = sizes.batch_rows, sizes.batches
        # batch i = rows [i*b, (i+1)*b): whole 1000-row F2 blocks
        (dirty_token_table(spark, b * nb, seed=seed + 104729,
                           partitions=cores)
         .withColumn("batch", F.floor(F.col("_row_id") / b))
         .drop("_row_id")
         .write.partitionBy("batch").parquet(str(out / "batches")))


class Workload:
    name = ""

    def __init__(self, sizes: Sizes, inputs: Path, work: Path, tracer):
        self.sizes = sizes
        self.inputs = inputs
        self.work = work
        self.tr = tracer
        self.round = 0

    # -- traced layer decomposition ---------------------------------------

    def decompose(self, engine, df, trace: str, validate=None) -> dict:
        """Time each layer's output in isolation (count() of a persisted
        frame), as tools/profile_phases.py does. Spark is lazy, so these
        re-materializations can add up to more than the fused validate."""
        tr = self.tr
        with tr.span("compiler.compile_ruleset", trace=trace) as s:
            plan = compile_ruleset(engine.ruleset, df.schema, engine.config,
                                   engine.dims)
            s["attrs"].update(predicates=len(plan.predicates),
                              dataset_plans=len(plan.dataset_plans))
        with tr.span("engine.compile_cached", trace=trace):
            plan = engine.compile(df)
        parts = []
        with tr.span("engine.predicate_violations", trace=trace):
            pv = predicate_violations(df, plan).persist()
            pv.count()
        parts.append(pv)
        for dp in plan.dataset_plans:
            with tr.span(f"plans.{dp.rule.type}", trace=trace):
                out = dp.execute(df, plan).persist()
                out.count()
            parts.append(out)
        any_cond = functools.reduce(lambda a, b: a | b,
                                    [p.condition for p in plan.predicates])
        violating = df.where(any_cond).count()
        union = functools.reduce(lambda a, b: a.unionByName(b), parts)
        # validate dedupes only when two rules can collide (compile-time)
        if engine.config.dedupe and plan.needs_dedupe():
            with tr.span("engine.dedupe_violations", trace=trace) as s:
                union = dedupe_violations(union).persist()
                s["attrs"]["rows_out"] = union.count()
            parts.append(union)
        with tr.span("engine.build_verdicts", trace=trace):
            build_verdicts(df, union, plan).count()
        if validate is not None:
            with tr.span("engine.validate", trace=trace):
                res = validate(df)
                res.violations.count()
                res.verdicts.count()
            res.unpersist()
        for p in parts:
            p.unpersist()
        return {"violating_rows": violating}

    def table_stats(self) -> dict:
        """Manifests, live data files and metadata bytes per commit of the
        table the timed ops used."""
        tbl = self.tbl
        snapshots = tbl.snapshots().count()
        return {"manifests": tbl.manifests().count(),
                "data_files": tbl.files().count(), "snapshots": snapshots,
                "metadata_bytes_per_commit":
                    _du(Path(tbl.location) / "metadata") / snapshots}

    def probe(self, spark) -> dict | None:
        return None


class CorpusScan(Workload):
    name = "corpus_scan"

    def setup(self, spark) -> None:
        """Register a new Iceberg table holding the corpus (``add_files``,
        no copy), build a new engine, compile and run one warm-up op."""
        self.round += 1
        self.dims = {"sources_dim": sources_dim(spark),
                     "stats_baseline": spark.read.parquet(
                         str(self.inputs / "baseline"))}
        corpus = str(self.inputs / "corpus")
        self.tbl = PyIcebergTable.create(
            spark, str(self.work / f"{self.name}-{self.round}"),
            spark.read.parquet(corpus).schema)
        self.sid = self.tbl.add_files(corpus)
        self.engine = ValidationEngine(default_token_ruleset(with_drift=True),
                                       dims=self.dims)
        with self.tr.span("compiler.first_compile", trace="setup"):
            self.engine.compile(self.tbl.read(self.sid))
        warm = self.op(trace=None)
        drift = warm.counts.get(oracle.DRIFT, 0)
        self.expect = oracle.corpus_expectation(self.sizes.corpus_rows, drift)

    def expectation(self, out: OpOut) -> oracle.Expectation:
        return self.expect

    def op(self, trace: str | None) -> OpOut:
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("op", trace=trace or "warmup"):
            with tr.span("iceberg_py.read"):
                df = self.tbl.read(self.sid)
            with tr.span("engine.validate"):
                res = self.engine.validate(df)
                counts = _count_by_rule(res.violations)
                verdict_rows = res.verdicts.count()
        wall = time.perf_counter() - t0
        res.unpersist()
        self.last_df = df
        return OpOut(wall, self.sizes.corpus_rows, counts, verdict_rows)

    def traced_extras(self, trace: str) -> dict:
        return self.decompose(self.engine, self.last_df, trace)

    def probe(self, spark) -> dict:
        """Flood probe: one ResumableRun of the tightened rules, gated by
        DuckDB over the corpus files (see FLOOD_WHY)."""
        tr = self.tr
        root = self.work / "flood"
        shutil.rmtree(root, ignore_errors=True)
        rules = RuleSet.parse(oracle.FLOOD_RULES)
        df = self.tbl.read(self.sid)
        run = ResumableRun(rules, str(root), dims=self.dims)
        with tr.span("lineage.run", trace="flood", ungrouped_jobs=True):
            run.run(df)
        counts = _count_by_rule(run.violations(spark))
        verdict_rows = run.verdicts(spark).count()
        expect = oracle.flood_expectation(
            _parquet_files(self.inputs / "corpus"))
        mismatches = expect.mismatches(counts, verdict_rows)
        marks = (run.lineage.read(spark).where(F.col("run_id") == run.run_id)
                 .select("completed_at", "wall_ms").distinct().collect())
        violations = sum(counts.values())
        on_disk = sum(_du(root / d) for d in ("violations", "verdicts",
                                               "lineage"))
        # the violation path in isolation: the engine dedupes here, because
        # the two TokenDomain rules can flag the same element
        engine = ValidationEngine(rules, dims=self.dims)
        plan = engine.compile(df)
        with tr.span("flood.predicate_violations", trace="flood"):
            pv = predicate_violations(df, plan).persist()
            rows_in = pv.count()
        with tr.span("engine.dedupe_violations", trace="flood") as s:
            dd = dedupe_violations(pv).persist()
            s["attrs"]["rows_out"] = dd.count()
            s["attrs"]["rows_in"] = rows_in
        dd.unpersist()
        pv.unpersist()
        shutil.rmtree(root, ignore_errors=True)
        return {"mismatches": mismatches, "violations": violations,
                "batches": len(marks),
                "batch_wall_ms": statistics.median(
                    m["wall_ms"] for m in marks) if marks else 0.0,
                "bytes_per_violation": on_disk / max(violations, 1)}


class AppendStream(Workload):
    name = "append_stream"

    def __init__(self, *args):
        super().__init__(*args)
        self.batch_dir = self.inputs / "batches"
        self.next_batch = 0

    def setup(self, spark) -> None:
        """Create a new empty Iceberg table, build a new engine, compile,
        and attach a monitor; one warm-up op."""
        self.round += 1
        self.spark = spark
        schema = spark.read.parquet(str(self.batch_dir / "batch=0")).schema
        self.tbl = PyIcebergTable.create(
            spark, str(self.work / f"{self.name}-{self.round}"), schema)
        self.engine = ValidationEngine(
            default_token_ruleset(), dims={"sources_dim": sources_dim(spark)})
        with self.tr.span("compiler.first_compile", trace="setup"):
            self.engine.compile(self.tbl.read())
        self.monitor = SnapshotMonitor(self.tbl, self.engine)
        # first contact with the empty table: the cursor starts at genesis,
        # so the warm-up op validates the first batch in full and every
        # timed op after it validates its own delta through incremental()
        self.monitor.poll_once()
        if self.tr.enabled:
            self._wrap_layers()
        self.op(trace=None)

    def _wrap_layers(self) -> None:
        """Spans around the calls poll_once makes into other layers."""
        def wrap(obj, attr, name):
            fn = getattr(obj, attr)

            @functools.wraps(fn)
            def inner(*a, **kw):
                with self.tr.span(name):
                    out = fn(*a, **kw)
                self.last_call[attr] = out
                return out
            setattr(obj, attr, inner)
        self.last_call = {}
        self.validate_unwrapped = self.engine.validate
        wrap(self.tbl, "incremental", "iceberg_py.incremental")
        wrap(self.tbl, "snapshots", "iceberg_py.snapshots")
        wrap(self.engine, "validate", "engine.validate_plan_build")

    def op(self, trace: str | None) -> OpOut:
        tr = self.tr
        i = self.next_batch % self.sizes.batches
        self.next_batch += 1
        batch = self.spark.read.parquet(str(self.batch_dir / f"batch={i}"))
        meta = Path(self.tbl.location) / "metadata"
        before = _du(meta)
        t0 = time.perf_counter()
        with tr.span("op", trace=trace or "warmup"):
            with tr.span("iceberg_py.append"):
                sid = self.tbl.append(batch)
            with tr.span("snapshot_poll.poll_once"):
                polled, res = self.monitor.poll_once()
            with tr.span("engine.result_collect"):
                counts = _count_by_rule(res.violations)
                verdict_rows = res.verdicts.count()
        wall = time.perf_counter() - t0
        self.commit_bytes = _du(meta) - before
        res.unpersist()
        if polled != sid:
            raise RuntimeError(f"poll_once validated snapshot {polled}, "
                               f"appended {sid}")
        self.sid = sid
        return OpOut(wall, self.sizes.batch_rows, counts, verdict_rows)

    def expectation(self, out: OpOut) -> oracle.Expectation:
        """DuckDB over the data files the delta's commit added."""
        files = [_local(r["file_path"]) for r in
                 self.tbl.entries(self.sid)
                     .where((F.col("snapshot_id") == self.sid)
                            & (F.col("status") == 1))
                     .select("file_path").collect()]
        return oracle.delta_expectation(files)

    def traced_extras(self, trace: str) -> dict:
        out = self.decompose(self.engine, self.last_call["incremental"], trace,
                             validate=self.validate_unwrapped)
        out["commit_metadata_bytes"] = self.commit_bytes
        return out


WORKLOADS = {w.name: w for w in (CorpusScan, AppendStream)}
