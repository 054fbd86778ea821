"""The two workloads: seeded inputs, one timed user-visible call with
its output check, and (traced runs only) the layer ladder.

There are two, each timed call covering several entry points, because
every run pays about half a minute of JVM start and warm-up on a
4-core machine, and the number of runs a benchmark is given grows with
its workloads.  ``suite_cli`` covers ``cli.main`` (direct and
checkpointed); ``table_arrow`` covers what users run outside it: the
table-level checks and the Arrow-UDF rule tier.

Every timed call is a closed loop on one driver thread: the next call
starts when the previous one and its output check have finished.  A
call returns a ``Sample`` only after its outputs matched the seeded
expectation; a mismatch raises ``OutputMismatch``.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import datagen
from spans import Tracer, node_metric, scans_of

from schema_validator_spark import cli
from schema_validator_spark.engine import FAILS_COL, ValidationEngine
from schema_validator_spark.operators.checks import Check, run_checks
from schema_validator_spark.operators.referential import (
    orphan_stats,
    referential_violations,
)
from schema_validator_spark.operators.uniqueness import duplicate_keys
from schema_validator_spark.sources.datagen import (
    FULL_SUITE_SPEC,
    LANGS,
    full_suite_engine,
)

N_BUCKETS = 64
LADDER_REPS = 3
SHA_SAMPLE = [7, 13, 19, 23, 31, 100, 1001, 4242]


class OutputMismatch(AssertionError):
    pass


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise OutputMismatch(f"{what}: got {got!r}, want {want!r}")


@dataclass
class Sample:
    rows: int
    seconds: float
    extra: dict = field(default_factory=dict)

    @property
    def files_per_s(self) -> float:
        return self.rows / self.seconds


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def part_files(path: str) -> tuple[int, int]:
    """(number, bytes) of the data files under a Spark output directory."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    rows = 0

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "input")

    def materialize(self) -> None:
        """Generate and write the seeded inputs (repeatable)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the expected outputs from the seed (repeatable)."""

    def setup(self) -> None:
        self.materialize()
        self.prepare()

    def call(self, tracer: Tracer) -> Sample:
        raise NotImplementedError

    def warm(self, tracer: Tracer) -> None:
        """An untimed first pass that pays codegen and JIT warm-up."""
        self.call(tracer)

    def ladder(self, tracer: Tracer) -> dict[str, float]:
        raise NotImplementedError

    def layer_metrics(self, traced: list[Sample]) -> dict[str, float]:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return part_files(self.input)[1]

    def scan_step(self, tracer: Tracer, cols: list[str]) -> dict[str, float]:
        df = self.spark.read.parquet(self.input).select(*cols)
        secs, s = ladder_step(tracer, "scan", lambda: noop(df))
        return {"sources.scan_s": secs,
                "sources.input_bytes": node_metric(s.nodes, "Scan parquet", "size of files read"),
                "sources.scan_tasks": s.stage.get("tasks", 0.0)}


def ladder_step(tracer: Tracer, name: str, fn) -> tuple[float, object]:
    """One untimed pass of a ladder step (its plan's codegen), then
    ``LADDER_REPS`` traced passes; returns (median seconds, last span)."""
    fn()
    secs = []
    for _ in range(LADDER_REPS):
        with tracer.span(f"ladder.{name}") as s:
            fn()
        secs.append(s.seconds)
    return statistics.median(secs), s


# ---------------------------------------------------------------- cli.main

def _site_sum(span, prefix: str, key: str = "s") -> float:
    return sum(v.get(key, 0) for k, v in span.sites.items() if k.startswith(prefix))


def _all_nodes(span) -> list[dict]:
    return span.nodes + [n for v in span.sites.values() for n in v.get("nodes", [])]


class SuiteCli(Workload):
    """``cli.main`` with the full suite, both ways users run it.  One
    timed call is a cycle of three ``cli.main`` calls:

    * direct mode (violations, summary and the summary read-back);
    * checkpointed mode into a fresh directory over the input's first
      half of the buckets: a run that was interrupted;
    * the resume: checkpointed mode over the whole input, which skips
      the buckets already in lineage and processes the rest.

    The cycle processes every row twice (once direct, once across the
    two checkpointed calls); the direct and checkpointed violations
    must both equal the expectation and so each other."""

    name = "suite_cli"
    rows = 80_000

    def materialize(self) -> None:
        datagen.code_files(self.spark, self.rows, self.seed) \
            .write.mode("overwrite").parquet(self.input)
        self.half = os.path.join(self.work, "input_half")
        bucket = F.pmod(F.xxhash64(F.col("repo")), N_BUCKETS)
        self.spark.read.parquet(self.input).filter(bucket < N_BUCKETS // 2) \
            .write.mode("overwrite").parquet(self.half)
        self.spec_path = os.path.join(self.work, "spec.json")
        with open(self.spec_path, "w") as f:
            json.dump(FULL_SUITE_SPEC, f)

    def prepare(self) -> None:
        self.expect = datagen.CodeFilesExpectation(self.rows, self.seed)
        self.keys = self.expect.violation_keys()
        self.runs = 0

    def warm(self, tracer: Tracer) -> None:
        self.check_sha256()
        super().warm(tracer)

    def cli(self, *extra: str) -> tuple[dict, float]:
        argv = ["--spec", self.spec_path, "--key-cols", "repo,path,commit",
                "--partition-cols", "lang", "--sha256-col", "content", *extra]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        dt = time.perf_counter() - t0
        expect_equal("cli.main exit code", rc, 0)
        return json.loads(buf.getvalue().strip().splitlines()[-1]), dt

    def check_violations(self, path: str) -> set[tuple]:
        """The written violations: counts by (field, code) and the exact
        (key, field, code) set both equal the seed's expectation.
        Returns that set."""
        rows = self.spark.read.parquet(path) \
            .select("repo", "path", "commit", "field", "code").collect()
        counts: dict[tuple[str, str], int] = {}
        for r in rows:
            counts[(r["field"], r["code"])] = counts.get((r["field"], r["code"]), 0) + 1
        expect_equal("violations by (field, code)", counts, self.expect.violation_counts)
        keys = {tuple(r) for r in rows}
        if keys != self.keys:
            raise OutputMismatch(
                f"violation keys differ: {len(keys - self.keys)} unexpected, "
                f"{len(self.keys - keys)} missing")
        return keys

    def check_sha256(self) -> None:
        """content_sha256 equals hashlib.sha256 on a fixed sample."""
        paths = [f"src/pkg_{i % 50}/file_{i}.{LANGS[i % 7]}" for i in SHA_SAMPLE]
        paths += ["/" + p for p in paths]
        df = self.spark.read.parquet(self.input).filter(F.col("path").isin(paths))
        rows = full_suite_engine().run(df).annotated.select("content", "content_sha256").collect()
        expect_equal("sha256 sample size", len(rows), len(SHA_SAMPLE))
        for r in rows:
            expect_equal("content_sha256", r["content_sha256"],
                         hashlib.sha256(r["content"].encode()).hexdigest())

    def ladder(self, tracer: Tracer) -> dict[str, float]:
        """scan -> derive -> rules -> explode -> observe -> sink, each
        forced by a noop write of the step's real output (rules by
        ``sum(size(_fails))``, the sink by a parquet write); each metric
        is a step's marginal cost over the one before."""
        df = self.spark.read.parquet(self.input)
        eng = full_suite_engine()
        langs = LANGS + ["cobol"]
        out = self.scan_step(tracer, df.columns)
        compile_s = []
        for _ in range(5):
            plan, dt = timed(eng.compile, df)
            compile_s.append(dt)
        out["compiler.compile_s"] = statistics.median(compile_s)
        out["compiler.n_checks"] = float(len(plan.checks))

        def observed(sink=None):
            v, obs = eng.run(df).violations_observed(langs)
            if sink:
                v.write.mode("overwrite").parquet(sink)
            else:
                noop(v)
            return obs.get

        steps = [
            ("derive", lambda: noop(df.withColumns(eng.derived))),
            ("rules", lambda: eng.annotate(df).agg(
                F.sum(F.size(FAILS_COL)).alias("n")).collect()),
            ("explode", lambda: noop(eng.run(df).violations)),
            ("observe", observed),
            ("sink", lambda: observed(os.path.join(self.work, "ladder_sink"))),
        ]
        prev = out["sources.scan_s"]
        spans = {}
        for name, fn in steps:
            secs, spans[name] = ladder_step(tracer, name, fn)
            key = "sink.write_s" if name == "sink" else f"engine.{name}_s"
            out[key] = secs - prev
            prev = secs
        obs = spans["observe"].stage
        out["engine.cpu_s"] = obs["cpu_s"]
        out["engine.gc_s"] = obs["gc_s"]
        out["engine.spill_bytes"] = obs["spill_bytes"]
        return out

    def call(self, tracer: Tracer) -> Sample:
        out = os.path.join(self.work, "out")
        ckpt = os.path.join(self.work, f"ckpt{self.runs}")
        self.runs += 1
        ck_argv = ("--checkpoint-dir", ckpt, "--bucket-col", "repo",
                   "--n-buckets", str(N_BUCKETS))
        with tracer.span("cli.main.direct") as s_direct:
            printed, t_direct = self.cli("--input", self.input, "--output", out)
        with tracer.span("cli.main.interrupted") as s_first:
            first, t_first = self.cli("--input", self.half, *ck_argv)
        with tracer.span("cli.main.resume") as s_resume:
            second, t_resume = self.cli("--input", self.input, *ck_argv)

        e = self.expect
        expect_equal("printed n_rows", printed["n_rows"], e.n_rows)
        expect_equal("printed n_violations", printed["n_violations"], e.n_violations)
        summary = {r["lang"]: (r["n_rows"], r["n_violations"]) for r in
                   self.spark.read.parquet(f"{out}/summary").collect()}
        expect_equal("summary by lang", summary, e.per_lang)
        direct_keys = self.check_violations(f"{out}/violations")

        expect_equal("first call skipped", first["skipped"], [])
        expect_equal("resume skipped = first processed", second["skipped"], first["processed"])
        if set(first["processed"]) & set(second["processed"]):
            raise OutputMismatch("resume reprocessed completed buckets")
        lineage = self.spark.read.parquet(f"{ckpt}/lineage").agg(
            F.sum("n_rows").alias("n_rows"), F.sum("n_violations").alias("v")).first()
        expect_equal("lineage n_rows", lineage["n_rows"], e.n_rows)
        expect_equal("lineage n_violations", lineage["v"], e.n_violations)
        if self.check_violations(f"{ckpt}/violations") != direct_keys:
            raise OutputMismatch("direct and checkpointed violations differ")

        direct_files = part_files(out)
        ckpt_files = part_files(ckpt)
        shutil.rmtree(ckpt)
        return Sample(2 * self.rows, t_direct + t_first + t_resume, {
            "resume_s": t_resume, "direct_files": direct_files, "ckpt_files": ckpt_files,
            "direct": s_direct, "ckpt": (s_first, s_resume)})

    def layer_metrics(self, traced) -> dict[str, float]:
        med = statistics.median

        def jobs(s, prefix=""):
            return sum(v.get("jobs", 0) for k, v in s.sites.items() if k.startswith(prefix))

        def ckpt(fn):
            return med(sum(fn(s) for s in x.extra["ckpt"]) for x in traced)

        def ck_scans(s):
            nodes = [n for k, v in s.sites.items() if k.startswith("checkpoint.")
                     for n in v.get("nodes", [])]
            return scans_of(nodes, self.input) + scans_of(nodes, self.half)

        direct = [x.extra["direct"] for x in traced]
        n_bytes = med(x.extra["direct_files"][1] + x.extra["ckpt_files"][1] for x in traced)
        return {
            "cli.jobs": med(s.jobs + jobs(s) for s in direct),
            "cli.input_scans": med(scans_of(_all_nodes(s), self.input) for s in direct),
            "cli.readback_s": med(_site_sum(s, "cli.main:collect") for s in direct),
            "checkpoint.completed_buckets_s": ckpt(
                lambda s: _site_sum(s, "checkpoint.completed_buckets")),
            "checkpoint.write_s": ckpt(lambda s: _site_sum(s, "checkpoint.run:parquet:violations")),
            "checkpoint.summary_s": ckpt(lambda s: _site_sum(s, "checkpoint.run:collect")),
            "checkpoint.lineage_s": ckpt(lambda s: _site_sum(s, "checkpoint.run:parquet:lineage")),
            "checkpoint.jobs": ckpt(lambda s: jobs(s, "checkpoint.")),
            "checkpoint.input_scans": ckpt(ck_scans),
            "checkpoint.resume_s": med(x.extra["resume_s"] for x in traced),
            "sink.bytes_written": n_bytes,
            "sink.files_written": med(x.extra["direct_files"][0] + x.extra["ckpt_files"][0]
                                      for x in traced),
            "sink.write_amp": n_bytes / (2 * self.input_bytes()),
        }


# ---------------------------------------------------------------- table checks + Arrow tier

CHECKS = [
    Check("size", "size", ">=", 1),
    Check("content complete", "completeness", "==", 1.0, column="content"),
    Check("key unique", "uniqueness", "==", 1.0, column=("repo", "path")),
    Check("commit distinct", "distinctness", "==", 1.0, column="commit"),
    Check("repos", "approx_distinct", ">=", 100, column="repo"),
    Check("median length", "quantile", ">=", 0, column="content_len", q=0.5),
    Check("known lang", "compliance", ">=", 1.0, predicate="lang <> 'cobol'"),
]


class TableArrow(Workload):
    """The two entry points outside ``cli.main``, in one timed call:

    * the table-level check report over code_files: ``run_checks``,
      orphan stats and the referential anti-join against the repos
      dimension, and duplicate keys (shuffles and aggregates; no row
      rule is ever compiled);
    * the Arrow-UDF rule tier: ``email``, ``ip``, ``cidr`` and
      ``tcp_addr`` plus one codegen rule over a seeded address table,
      forced through ``violations_observed``; the only part of the
      benchmark that crosses the Arrow/Python boundary.

    A call's rows are the rows of both inputs."""

    name = "table_arrow"
    rows = 60_000
    address_rows = 15_000

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.dim_path = os.path.join(work, "repos")
        self.addresses = os.path.join(work, "addresses")

    def materialize(self) -> None:
        datagen.code_files(self.spark, self.rows, self.seed) \
            .write.mode("overwrite").parquet(self.input)
        datagen.repos_dim(self.spark).write.mode("overwrite").parquet(self.dim_path)
        datagen.addresses(self.spark, self.address_rows, self.seed) \
            .write.mode("overwrite").parquet(self.addresses)

    def prepare(self) -> None:
        e = datagen.CodeFilesExpectation(self.rows, self.seed)
        n_cobol = e.per_lang["cobol"][0]
        self.want_report = [
            ("size", float(self.rows), "pass"),
            ("content complete", 1.0, "pass"),
            ("key unique", 1.0, "pass"),
            ("commit distinct", 1.0, "pass"),
            ("repos", None, "pass"),
            ("median length", e.content_len_median, "pass"),
            ("known lang", round((self.rows - n_cobol) / self.rows, 6), "fail"),
        ]
        self.expect = e
        self.want_addr = {
            fc: (len(range(res, self.address_rows, 100)),
                 sum(range(res, self.address_rows, 100)))
            for fc, res in datagen.BAD_ADDRESS.items()
        }

    def address_violations(self, spec: dict):
        df = self.spark.read.parquet(self.addresses)
        return ValidationEngine(spec, key_cols=["id"]).run(df).violations_observed()

    def call(self, tracer: Tracer) -> Sample:
        df = self.spark.read.parquet(self.input)
        dim = self.spark.read.parquet(self.dim_path)
        t0 = time.perf_counter()
        with tracer.span("checks.run_checks") as s_checks:
            report = run_checks(df.withColumn("content_len", F.length("content")),
                                CHECKS).collect()
        with tracer.span("referential.orphan_stats") as s_orphans:
            orphans = orphan_stats(df, ["repo"], dim).first()
        with tracer.span("referential.anti_join") as s_anti:
            anti = referential_violations(df, ["repo"], dim).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("path")).alias("chars")).first()
        with tracer.span("uniqueness.duplicate_keys") as s_dups:
            dups = duplicate_keys(df, ["repo"]).collect()
        with tracer.span("rules.violations_observed") as s_arrow:
            v, obs = self.address_violations(datagen.ADDRESS_SPEC)
            rows = v.groupBy("field", "code").agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("ids")).collect()
        dt = time.perf_counter() - t0

        e = self.expect
        got = [(r["check"], r["value"], r["status"]) for r in report]
        got[4] = (got[4][0], None, got[4][2])  # approx_distinct: status only
        expect_equal("check report", got, self.want_report)
        expect_equal("orphan stats", (orphans["n_rows"], orphans["n_orphans"]),
                     (self.rows, e.n_orphans))
        expect_equal("anti-join orphans", (anti["n"], anti["chars"] or 0),
                     (e.n_orphans, e.orphan_path_chars))
        expect_equal("duplicate repo keys",
                     {r["repo"]: r["dup_count"] for r in dups},
                     {k: n for k, n in e.repo_counts.items() if n > 1})
        expect_equal("address violations by (field, code)",
                     {(r["field"], r["code"]): (r["n"], r["ids"]) for r in rows},
                     self.want_addr)
        expect_equal("observed n_rows", obs.get["__all__::n_rows"], self.address_rows)
        expect_equal("observed n_violations", obs.get["__all__::n_violations"],
                     sum(n for n, _ in self.want_addr.values()))
        return Sample(self.rows + self.address_rows, dt,
                      {"spans": (s_checks, s_orphans, s_anti, s_dups, s_arrow)})

    def ladder(self, tracer: Tracer) -> dict[str, float]:
        """Scan of the code_files columns, then the Arrow tier's marginal
        cost: the address spec against the same spec without UDF rules,
        each forced by a noop write of its violations."""
        out = self.scan_step(tracer, ["repo", "path", "commit", "lang", "content"])
        secs = {}
        for name, spec in (("codegen_rules", {"email": "required"}),
                           ("arrow_rules", datagen.ADDRESS_SPEC)):
            def step():
                v, obs = self.address_violations(spec)
                noop(v)
                expect_equal(f"{name} observed n_rows", obs.get["__all__::n_rows"],
                             self.address_rows)
            secs[name], _ = ladder_step(tracer, name, step)
        out["rules.arrow_s"] = secs["arrow_rules"] - secs["codegen_rules"]
        return out

    def layer_metrics(self, traced) -> dict[str, float]:
        med = statistics.median
        spans = [x.extra["spans"] for x in traced]
        return {
            "checks.run_s": med(s[0].seconds for s in spans),
            "checks.shuffle_write_bytes": med(s[0].stage["shuffle_write_bytes"] for s in spans),
            "checks.cpu_s": med(s[0].stage["cpu_s"] for s in spans),
            "referential.orphan_stats_s": med(s[1].seconds for s in spans),
            "referential.anti_join_s": med(s[2].seconds for s in spans),
            "referential.exchanges": med(
                sum(1 for n in s[2].nodes if n["name"].endswith("Exchange")) for s in spans),
            "uniqueness.duplicate_keys_s": med(s[3].seconds for s in spans),
            "rules.py_bytes_sent": med(
                node_metric(s[4].nodes, "ArrowEvalPython", "data sent to Python workers")
                for s in spans),
            "rules.py_bytes_recv": med(
                node_metric(s[4].nodes, "ArrowEvalPython", "data returned from Python workers")
                for s in spans),
        }


WORKLOADS = {w.name: w for w in (SuiteCli, TableArrow)}
