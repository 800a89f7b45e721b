"""The workloads: what one iteration calls, and how its output is checked.

Each workload drives only the package's public functions, in the shape a
production job uses them.  ``iterate`` is the timed body; every call into a
layer is wrapped in a tracer span named after the layer's module.
``check`` runs after the iteration, outside its timing, against an
independent expectation: DuckDB over the same input files, or the
generator's ledger.  ``side_layers`` runs only in the traced run and
measures the layers the iteration does not call (see NOTES.md).
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import gen
import tracing

CORES = len(os.sched_getaffinity(0))  # what nproc reports
# Iteration ids of the traced side measurements (real iterations are >= 0).
CHECKPOINT_SIDE, CORPUS_SIDE, STAGES_SIDE = -1, -2, -3


def _sql(query: str, params=None) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(query, params or []).fetchall()


def _pages_expectation(files: list[str]) -> dict:
    """Violations by keyword and failed rows under WEBPAGE_RULES, computed
    by DuckDB from the rules' own definitions."""
    langs = ", ".join(f"'{x}'" for x in gen.LANGS)
    per_row = f"""
        select (not regexp_matches(url, '^https?://'))::int as pattern,
               (length(url) > 2048)::int as maxLength,
               (length(text) < 1)::int as minLength,
               (lang not in ({langs}))::int as enum,
               ((url is null)::int + (warc_ts is null)::int + (text is null)::int
                + (lang is null)::int) as required
        from read_parquet(?)"""
    row = _sql(f"""select count(*), sum(pattern), sum(maxLength), sum(minLength),
                          sum(enum), sum(required),
                          sum((pattern + maxLength + minLength + enum + required > 0)::int)
                   from ({per_row})""", [files])[0]
    keywords = dict(zip(["pattern", "maxLength", "minLength", "enum", "required"],
                        (int(v) for v in row[1:6])))
    return {"n_rows": int(row[0]), "n_failed_rows": int(row[6]),
            "n_violations": sum(keywords.values()),
            "keywords": {k: v for k, v in keywords.items() if v}}


def _keyword_counts(violations_dir: str) -> dict[str, int]:
    rows = _sql("select keyword, count(*) from read_parquet(?) group by 1",
                [os.path.join(violations_dir, "*.parquet")])
    return {k: int(n) for k, n in rows}


def _verdict_totals(verdicts_dir: str) -> tuple[int, int, int]:
    row = _sql("select sum(n_rows), sum(n_failed_rows), sum(n_violations) "
               "from read_parquet(?)", [os.path.join(verdicts_dir, "*.parquet")])[0]
    return tuple(int(v or 0) for v in row)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    why = ""  # one line, copied into BENCHMARK.json
    rows = 0
    warm_samples = 3  # fewest timed warm iterations in an untraced run

    def __init__(self, work: str, seed: int, tracer: tracing.Tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.out = os.path.join(work, "out")
        self.problems: list[str] = []  # failures found outside iterations
        self.spark = self.status = None

    def finish(self) -> list[str]:
        """Once-per-run checks after the timed loop; returns all failures
        found outside iterations."""
        return self.problems

    def side_layers(self) -> dict[str, float]:
        return {}

    def _side_spark(self, it: int, mark: int, wall: float, rows: int,
                    prefix: str, keys: tuple[str, ...]) -> dict[str, float]:
        """The `keys` of tracing.spark_metrics for side measurement `it`,
        renamed under `prefix`."""
        self.status.drain()
        got = tracing.spark_metrics(self.status, self.tracer.groups.get(it, []),
                                    mark, wall, rows)
        return {f"{prefix}.{k}": got[f"spark.{k}"] for k in keys}


class WebpagesReport(Workload):
    """The flagship job as scripts/run_validation_job.py runs it flat."""

    name = "webpages-report"
    why = ("flagship flat job: compile_rule_suite, run_rule_suite, violations + "
           "verdicts writes, summary(); 100k pages in 2x cores files, 1% bad lang, "
           "0.5% empty text, 0.5% ftp URLs; codegen, no Python")
    rows = 100_000
    warm_samples = 5

    def generate(self) -> None:
        self.files = gen.webpages(self.seed, self.rows, os.path.join(self.work, "pages"),
                                  2 * CORES)["files"]
        self.expect = _pages_expectation(self.files)

    def iterate(self, it: int) -> None:
        from jsonschemaparse_spark.engine import compile_rule_suite, run_rule_suite

        with self.tracer.span("schema.compiler.compile", it):
            suite = compile_rule_suite({"schema": gen.WEBPAGE_RULES})
        with self.tracer.span("plans.validator.plan", it):
            df = self.spark.read.parquet(os.path.dirname(self.files[0]))
            report = run_rule_suite(df, suite, key_cols=["url"])
        with self.tracer.span("plans.validator.violations_write", it):
            report.row_result.violations().write.mode("overwrite").parquet(
                f"{self.out}/violations")
        with self.tracer.span("plans.validator.verdicts_write", it):
            report.row_result.verdicts().write.mode("overwrite").parquet(
                f"{self.out}/verdicts")
        with self.tracer.span("plans.validator.summary", it):
            self.summary = report.summary()

    def check(self, it: int) -> list[str]:
        e = self.expect
        want = (e["n_rows"], e["n_failed_rows"], e["n_violations"])
        rows = self.summary["rows"]
        bad = []
        got = (rows["n_rows"], rows["n_failed_rows"], rows["n_violations"])
        if got != want:
            bad.append(f"summary {got} != duckdb {want}")
        got = _verdict_totals(f"{self.out}/verdicts")
        if got != want:
            bad.append(f"verdicts {got} != duckdb {want}")
        kw = _keyword_counts(f"{self.out}/violations")
        if kw != e["keywords"]:
            bad.append(f"keywords {kw} != duckdb {e['keywords']}")
        return bad

    def side_layers(self) -> dict[str, float]:
        """plans/checkpoint.py: run_with_checkpoint over the same files with
        3/4 of them already recorded (the state is written by one run over
        those files alone, untimed).  Checked like the flat run."""
        from jsonschemaparse_spark.engine import compile_rule_suite
        from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

        input_dir = os.path.dirname(self.files[0])
        n_done = len(self.files) * 3 // 4
        state = os.path.join(self.work, "state")
        hidden = os.path.join(self.work, "hidden")
        os.makedirs(hidden)
        schema = compile_rule_suite({"schema": gen.WEBPAGE_RULES}).schema
        for f in self.files[n_done:]:
            shutil.move(f, hidden)
        run_with_checkpoint(self.spark, input_dir, schema, state, key_cols=["url"])
        for f in self.files[n_done:]:
            shutil.move(os.path.join(hidden, os.path.basename(f)), f)
        seed_bytes = _dir_bytes(state)

        out = f"{self.out}/resume"
        it = CHECKPOINT_SIDE
        mark = self.status.mark()
        with self.tracer.span("plans.checkpoint.run", it):
            run = run_with_checkpoint(self.spark, input_dir, schema, state,
                                      key_cols=["url"])
        with self.tracer.span("plans.checkpoint.violations_write", it):
            run.violations.write.mode("overwrite").parquet(f"{out}/violations")
        with self.tracer.span("plans.checkpoint.verdicts_write", it):
            run.verdicts.write.mode("overwrite").parquet(f"{out}/verdicts")
        walls = {n: self.tracer.durations(n)[-1] for n in (
            "plans.checkpoint.run", "plans.checkpoint.violations_write",
            "plans.checkpoint.verdicts_write")}
        fresh_rows = _sql("select count(*) from read_parquet(?)",
                          [self.files[n_done:]])[0][0]

        files = _sql("select file, count(*) from read_parquet(?) group by 1",
                     [f"{state}/metrics/*.parquet"])
        names = sorted(os.path.basename(f) for f, _ in files)
        if names != sorted(os.path.basename(f) for f in self.files) or \
                any(n != 1 for _, n in files):
            self.problems.append(f"resume state holds {len(files)} file rows, not "
                                 f"each of {len(self.files)} files once")
        e = self.expect
        want = (e["n_rows"], e["n_failed_rows"], e["n_violations"])
        got = _verdict_totals(f"{out}/verdicts")
        if got != want:
            self.problems.append(f"resume verdicts {got} != flat {want}")
        if run.n_files_skipped != n_done:
            self.problems.append(f"resume skipped {run.n_files_skipped}, not {n_done}")

        metrics = {f"{n}_s": w for n, w in walls.items()}
        metrics["plans.checkpoint.rows_per_s"] = fresh_rows / sum(walls.values())
        metrics["plans.checkpoint.files_skipped_frac"] = \
            run.n_files_skipped / run.n_files_total
        metrics["plans.checkpoint.state_write_bytes"] = _dir_bytes(state) - seed_bytes
        metrics.update(self._side_spark(
            it, mark, sum(walls.values()), fresh_rows, "plans.checkpoint",
            ("scan_rows_ratio", "core_idle_frac")))
        return metrics


class PayloadJson(Workload):
    """validate_json_column(engine='auto') over nested JSON records, the
    validations and verdicts written and summary() read, as
    scripts/run_validation_job.py --json-col runs it flat."""

    name = "payload-json"
    why = ("validate_json_column(engine=auto) on 6k nested JSON records in cores/2 "
           "files; 3% schema, 1% syntax, 1% null; auto picks the Python evaluator "
           "and the few-split input leaves cores idle")
    rows = 6_000
    warm_samples = 5
    corpus_docs = 1_000

    def generate(self) -> None:
        self.ledger = gen.payloads(self.seed, self.rows,
                                   os.path.join(self.work, "payloads"),
                                   max(CORES // 2, 1))
        self.input_dir = os.path.dirname(self.ledger["files"][0])

    def iterate(self, it: int) -> None:
        from jsonschemaparse_spark.plans.json_validator import validate_json_column
        from jsonschemaparse_spark.schema.compiler import compile_rules

        with self.tracer.span("schema.compiler.compile", it):
            cs = compile_rules(gen.PAYLOAD_SCHEMA)
        with self.tracer.span("plans.json_validator.plan", it):
            df = self.spark.read.parquet(self.input_dir)
            res = validate_json_column(df, "payload", cs, key_cols=["id"])
        with self.tracer.span("plans.json_validator.violations_write", it):
            res.violations().write.mode("overwrite").parquet(f"{self.out}/violations")
        with self.tracer.span("plans.json_validator.verdicts_write", it):
            res.verdicts().write.mode("overwrite").parquet(f"{self.out}/verdicts")
        with self.tracer.span("plans.json_validator.summary", it):
            self.summary = res.summary()

    def check(self, it: int) -> list[str]:
        expect = self.ledger["expect"]
        bad = []
        got = dict(_sql("select id, keyword from read_parquet(?)",
                        [f"{self.out}/violations/*.parquet"]))
        if got != expect:
            diff = sorted(set(got.items()) ^ set(expect.items()))[:5]
            bad.append(f"violations differ from the ledger, e.g. {diff}")
        want = (self.rows, len(expect), len(expect))
        got = _verdict_totals(f"{self.out}/verdicts")
        if got != want:
            bad.append(f"verdicts {got} != ledger {want}")
        s = self.summary
        got = (s["n_rows"], s["n_failed_rows"], s["n_violations"])
        if got != want:
            bad.append(f"summary {got} != ledger {want}")
        return bad

    def side_layers(self) -> dict[str, float]:
        return {**self._evaluator_loops(), **self._corpus_side()}

    def _evaluator_loops(self) -> dict[str, float]:
        """schema/evaluate.py and schema/strict_json.py in driver-side loops
        over the first 2000 generated records, outside Spark."""
        from jsonschemaparse_spark.schema.compiler import compile_rules
        from jsonschemaparse_spark.schema.evaluate import Evaluator
        from jsonschemaparse_spark.schema.strict_json import loads_strict

        docs = [d for d in self.ledger["docs_sample"] if d is not None]
        values = []
        for d in docs:
            try:
                values.append(loads_strict(d))
            except ValueError:
                pass
        cs = compile_rules(gen.PAYLOAD_SCHEMA)
        ev = Evaluator()

        def parse(d):
            try:
                loads_strict(d)
            except ValueError:
                pass

        return {"schema.evaluate.docs_per_s": _rate(lambda v: ev.validate(cs, v), values),
                "schema.strict_json.docs_per_s": _rate(parse, docs)}

    def _corpus_side(self) -> dict[str, float]:
        """functions/: clean_corpus(span_dedup=True, near_dup_threshold=0.8,
        observe_funnel=True) over a generated corpus, the kept docs written
        and the funnel read; one untimed cold pass, then one traced pass.
        Then each public stage function on the previous stage's
        materialized output, timed with its parquet write."""
        from jsonschemaparse_spark.functions.dedup import (
            exact_dedup_linear,
            minhash_near_duplicates,
            remove_duplicate_spans,
        )
        from jsonschemaparse_spark.functions.text import quality_flags

        rows = self.corpus_docs
        corpus_dir = os.path.dirname(gen.corpus(
            self.seed, rows, os.path.join(self.work, "corpus"), CORES)["files"][0])
        out = f"{self.out}/corpus"
        self.funnel_errors = 0
        self.tracer.enabled = False
        cold_hash = self._clean(corpus_dir, out, 0)
        self.tracer.enabled = True
        it = CORPUS_SIDE
        mark = self.status.mark()
        start = time.perf_counter()
        kept_hash = self._clean(corpus_dir, out, it)
        wall = time.perf_counter() - start
        if kept_hash != cold_hash or not kept_hash[0]:
            self.problems.append(f"clean_corpus kept {kept_hash}, first pass {cold_hash}")

        metrics = {f"{n}_s": self.tracer.durations(n)[-1] for n in (
            "functions.pipeline.plan", "functions.pipeline.action",
            "functions.pipeline.funnel")}
        metrics["functions.pipeline.rows_per_s"] = rows / wall
        metrics["functions.pipeline.plan_jobs"] = len(self.status.jobs(
            [f"it{it}:functions.pipeline.plan"]))
        metrics["functions.pipeline.funnel_read_errors"] = self.funnel_errors
        metrics.update(self._side_spark(
            it, mark, wall, rows, "functions.pipeline",
            ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
             "core_idle_frac")))

        stages = [
            ("functions.dedup.exact", "exact",
             lambda d: exact_dedup_linear(d, "doc_id", "text")),
            ("functions.text.gates", "gates",
             lambda d: quality_flags(d, "text").filter("quality_keep")
             .select("doc_id", "text")),
            ("functions.dedup.span", "span_dedup",
             lambda d: remove_duplicate_spans(d, "doc_id", "text")
             .select("doc_id", "text")),
            ("functions.dedup.near_dup", "near_dup",
             lambda d: minhash_near_duplicates(d, "doc_id", "text", threshold=0.8)),
        ]
        cur = self.spark.read.parquet(corpus_dir)
        for layer, stage, fn in stages:
            path = f"{out}/stage_{stage}"
            with self.tracer.span(layer, STAGES_SIDE):
                fn(cur).write.mode("overwrite").parquet(path)
            metrics[f"{layer}_s"] = self.tracer.durations(layer)[-1]
            res = self.spark.read.parquet(path)
            frac = f"functions.pipeline.kept_frac.{stage}"
            n_in = cur.count()
            if stage == "near_dup":  # res holds the verified pairs
                metrics["functions.dedup.near_dup_pairs"] = res.count()
                metrics[frac] = (n_in - res.select("id_b").distinct().count()) / n_in
                break
            if stage == "span_dedup":  # rewrites text, keeps every row
                metrics[frac] = _chars(res) / _chars(cur)
            else:
                metrics[frac] = res.count() / n_in
            if stage == "exact":
                want = _sql("select count(distinct text) from read_parquet(?)",
                            [os.path.join(corpus_dir, "*.parquet")])[0][0]
                if res.count() != want:
                    self.problems.append(f"exact dedup kept {res.count()} != duckdb {want}")
            cur = res
        return metrics

    def _clean(self, corpus_dir: str, out: str, it: int) -> tuple:
        """One clean_corpus pass as a production job runs it; returns the
        kept-id hash (count and sum of DuckDB hash(doc_id))."""
        from py4j.protocol import Py4JJavaError

        from jsonschemaparse_spark.functions.pipeline import clean_corpus

        with self.tracer.span("functions.pipeline.plan", it):
            df = self.spark.read.parquet(corpus_dir)
            res = clean_corpus(df, span_dedup=True, near_dup_threshold=0.8,
                               observe_funnel=True)
        with self.tracer.span("functions.pipeline.action", it):
            res.cleaned.write.mode("overwrite").parquet(f"{out}/kept")
        with self.tracer.span("functions.pipeline.funnel", it):
            try:
                res.funnel_counts()
            except Py4JJavaError:
                # Known defect: reading the funnel observations can fail in
                # PythonSQLUtils.toPyRow.  Counted, neither hidden nor avoided.
                self.funnel_errors += 1
            res.unpersist()
        return _sql("select count(*), sum(hash(doc_id)) from read_parquet(?)",
                    [f"{out}/kept/*.parquet"])[0]


def _chars(df) -> int:
    from pyspark.sql import functions as F

    return df.select(F.sum(F.length("text"))).first()[0]


def _rate(fn, items, seconds: float = 0.5) -> float:
    done, start = 0, time.perf_counter()
    while time.perf_counter() - start < seconds:
        for x in items:
            fn(x)
        done += len(items)
    return done / (time.perf_counter() - start)


WORKLOADS = {w.name: w for w in (WebpagesReport, PayloadJson)}
