"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload stages its inputs in ``setup`` (timed as set-up, together
with its warm-up operations, indices -1, -2, ...), builds per-operation
inputs in ``prepare`` (untimed), runs the timed operation in ``op`` and
compares the operation's output with the DuckDB oracle in ``check``
(untimed).
"""

from __future__ import annotations

import dataclasses
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle
from .box import cores
from .tracing import Tracer


def stage_parquet(pdf, path: str, files: int) -> None:
    """Writes ``pdf`` as ``files`` parquet files of consecutive rows, so
    a scan runs on that many cores."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def duck(path: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def _packed(set_id: int, rule_id: int):
    from quality_spark import Id, pack_id

    return pack_id(Id(set_id, 1)), pack_id(Id(rule_id, 1))


class Workload:
    #: a run measures whole cycles of this many operations, so that every
    #: kind of operation is measured (and, when tracing, traced) equally
    cycle = 1
    #: warm-up operations, part of set-up
    warmups = 1

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def setup(self, k: int) -> None:
        raise NotImplementedError

    def prepare(self, i: int):
        return None

    def rows(self, prep) -> int:
        """Input rows the operation for ``prep`` processes."""
        raise NotImplementedError

    def op(self, i: int, prep):
        raise NotImplementedError

    def check(self, i: int, prep, out) -> bool:
        raise NotImplementedError

    def plan_span(self, df) -> None:
        """plan.*: physical planning of ``df``, plus the analyzed plan's
        size and the number of whole-stage-codegen subtrees (traced
        operations only)."""
        with self.tracer.span("plan") as s:
            qe = df._jdf.queryExecution()
            physical = qe.executedPlan().toString()
        if self.tracer.enabled:
            s.counters["analyzed_chars"] = len(qe.analyzed().toString())
            s.counters["wscg_subtrees"] = len(set(re.findall(r"\*\((\d+)\)", physical)))


class DqBatch(Workload):
    """100 rules in 10 rule sets over ``lineitem``:
    ``add_overall_results_and_details``, a parquet write, then a
    read-back report (per-rule pass, fail and soft-fail counts and a
    filter on ``DQ_overallResult``)."""

    ROWS = 6_000
    RULES, SETS = 100, 10
    # the first operation of a fresh JVM is about 2.5x a warm one and the
    # second still about 10% slower
    warmups = 2

    def setup(self, k: int) -> None:
        self.input = os.path.join(self.work, f"lineitem-{k}")
        stage_parquet(gen.lineitem(self.seed, self.ROWS), self.input, cores())
        self.specs = gen.rule_specs(self.seed, self.RULES, self.SETS)
        self.suite = gen.dq_suite((1, 1), self.specs)
        self.li = self.spark.read.parquet(self.input)
        self.out = os.path.join(self.work, "dq-out")
        self.expected = None

    def rows(self, prep) -> int:
        return self.ROWS

    def op(self, i, prep):
        from pyspark.sql import functions as F

        from quality_spark import add_overall_results_and_details

        with self.tracer.span("build.runner", jobs=True):
            df = add_overall_results_and_details(self.li, self.suite)
        if self.tracer.enabled:
            self.plan_span(df)
        with self.tracer.span("exec.write", jobs=True):
            df.write.mode("overwrite").parquet(self.out)
        with self.tracer.span("exec.read", jobs=True):
            stored = self.spark.read.parquet(self.out)
            rules = stored.select(F.explode("DQ_Details.ruleSetResults").alias("set", "s")).select(
                F.explode("s.ruleResults").alias("rule", "r")
            )
            counts = rules.groupBy("rule").agg(
                *[F.count_if(F.col("r") == v) for v in (oracle.PASSED, 0, -1)]
            ).collect()
            failed_rows = stored.filter("DQ_overallResult = 0").count()
        return {r[0]: tuple(r[1:]) for r in counts}, failed_rows

    def check(self, i, prep, out) -> bool:
        if self.expected is None:
            con = duck(self.input)
            per_rule, failed_rows = oracle.rule_counts(con, "t", self.specs)
            con.close()
            packed = {s.rule_id: _packed(s.set_id, s.rule_id)[1] for s in self.specs}
            self.expected = {packed[r]: c for r, c in per_rule.items()}, failed_rows
        return tuple(out) == self.expected


class ConstructMix(Workload):
    """Operations whose cost is building the plan on the driver, in a
    fixed cycle. Five take a seeded suite, load it from rule, lambda and
    output-expression tables and then bind it on a 64-row input through
    ``add_data_quality`` (at 288 and at 96 rules, either side of the
    runner's 256-rule staging threshold), ``add_rule_engine`` or
    ``add_folder`` (32 rules: their build and plan cost grows much
    faster with suite size than the runner's) and plan it, or compile it
    into a sparkless ``RowProcessor`` (50 rules) that scores the 64 rows
    as one batch. The sixth curates 600 seeded documents:
    ``filter_documents`` → ``with_compression_ratio`` (Arrow
    ``pandas_udf``) → ``minhash_lsh_pairs`` → ``dedup_keep_list``, whose
    ``connected_components`` runs about twenty eager jobs while the
    frame is built."""

    ROWS, DOCS = 64, 600
    MIN_TOKENS, MIN_RATIO = 8, 0.2
    #: (entry point, rules) by operation index
    SCHEDULE = (
        ("dq", 288),
        ("engine", 32),
        ("curation", 0),
        ("dq", 96),
        ("folder", 32),
        ("sparkless", 50),
    )
    #: a small suite, then the curation pipeline, whose first run in a
    #: fresh JVM is about three times a warm one
    WARMUPS = (("dq", 24), ("curation", 0))

    @property
    def cycle(self) -> int:
        return len(self.SCHEDULE)

    @property
    def warmups(self) -> int:
        return len(self.WARMUPS)

    def setup(self, k: int) -> None:
        from pyspark.sql import types as T

        self.input = os.path.join(self.work, f"tiny-{k}")
        pdf = gen.lineitem(self.seed, self.ROWS)
        pdf["l_orderkey"] = range(self.ROWS)  # row key for the oracle
        stage_parquet(pdf, self.input, 1)
        self.tiny = self.spark.read.parquet(self.input)
        # NULL l_tax must reach the sparkless batch as None, not as NaN
        self.batch = list(pdf.astype(object).where(pdf.notna(), None).itertuples(index=False, name=None))
        self.schema = T._parse_datatype_string(gen.LINEITEM_SCHEMA)
        self.con = duck(self.input)
        self.docs = gen.documents(self.seed, self.DOCS)
        self.docs_path = os.path.join(self.work, f"docs-{k}")
        stage_parquet(self.docs, self.docs_path, cores())
        self.curated = None

    def rows(self, prep) -> int:
        return self.DOCS if prep[0] == "curation" else self.ROWS

    def prepare(self, i):
        from quality_spark import Id, to_lambda_df, to_output_expression_df, to_rule_suite_df

        kind, n = self.WARMUPS[-1 - i] if i < 0 else self.SCHEDULE[i % len(self.SCHEDULE)]
        if kind == "curation":
            return (kind,)
        specs = gen.rule_specs(self.seed * 100_003 + i, n, max(1, n // 10))
        engine, folder = gen.engine_suites((1000 + i, 1), specs)
        folder = dataclasses.replace(folder, id=Id(1000 + i, 2))
        suites = {engine.id: engine, folder.id: folder}
        tables = (
            to_rule_suite_df(self.spark, suites),
            to_lambda_df(self.spark, suites),
            to_output_expression_df(self.spark, suites),
        )
        return kind, specs, engine, folder, tables

    def op(self, i, prep):
        if prep[0] == "curation":
            return self._curate()
        from pyspark.sql import functions as F

        from quality_spark import (
            RowProcessor,
            add_data_quality,
            add_folder,
            add_rule_engine,
            integrate_lambdas,
            integrate_output_expressions,
            read_lambdas_from_df,
            read_output_expressions_from_df,
            read_rules_from_df,
        )

        kind, specs, engine, folder, (rules, lambdas, outputs) = prep
        with self.tracer.span("load", jobs=True):
            loaded = read_rules_from_df(rules)
            loaded = integrate_lambdas(loaded, read_lambdas_from_df(lambdas))
            loaded = integrate_output_expressions(loaded, read_output_expressions_from_df(outputs))
        if kind == "sparkless":
            with self.tracer.span("sparkless.init", jobs=True):
                rp = RowProcessor(self.spark, loaded[engine.id], self.schema)
            with self.tracer.span("exec.process", jobs=True):
                return loaded, rp.process(self.batch)
        if kind == "dq":
            with self.tracer.span("build.runner", jobs=True):
                df = add_data_quality(self.tiny, loaded[engine.id])
        elif kind == "engine":
            with self.tracer.span("build.engine", jobs=True):
                df = add_rule_engine(self.tiny, loaded[engine.id], result_ddl="string", name="re")
        else:
            with self.tracer.span("build.folder", jobs=True):
                start = F.struct(F.col("l_quantity").alias("q"))
                df = add_folder(self.tiny, loaded[folder.id], start, name="fold")
        self.plan_span(df)
        return loaded, df

    def _curate(self):
        from pyspark.sql import functions as F

        from quality_spark.llm import dedup
        from quality_spark.llm.compress import with_compression_ratio
        from quality_spark.llm.pipeline import filter_documents

        udf_profile = self.tracer.enabled
        if udf_profile:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        with self.tracer.span("llm.construct", jobs=True):
            docs = self.spark.read.parquet(self.docs_path)
            with self.tracer.span("llm.filter"):
                f = filter_documents(docs, min_tokens=self.MIN_TOKENS)
            with self.tracer.span("llm.compress"):
                f = with_compression_ratio(f)
            kept = f.filter(F.col("drop_reason").isNull() & (F.col("zlib_ratio") >= self.MIN_RATIO))
            with self.tracer.span("llm.minhash"):
                pairs = dedup.minhash_lsh_pairs(kept, k=3, num_perm=16, bands=4, threshold=0.5, mode="portable")
            with self.tracer.span("llm.dedup"):
                keep = dedup.dedup_keep_list(kept, pairs)
        with self.tracer.span("exec.collect", jobs=True) as s:
            out = {r[0]: r[1] for r in keep.select("doc_id", "keep").collect()}
        if udf_profile:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            s.counters["udf_s"] = self._udf_seconds()
        return out

    def _udf_seconds(self) -> float:
        import glob
        import pstats
        import shutil

        dump = os.path.join(self.work, "udf-profile")
        self.spark.profile.dump(dump, type="perf")
        self.spark.profile.clear(type="perf")
        total = sum(pstats.Stats(p).total_tt for p in glob.glob(os.path.join(dump, "*")))
        shutil.rmtree(dump, ignore_errors=True)
        return total

    def check(self, i, prep, out) -> bool:
        """Curation: the keep flag of every surviving document. Suites:
        the loaded suites must equal the generated ones, and the bound
        frame, run on the 64-row input (or the sparkless batch result),
        must match the oracle row by row."""
        if prep[0] == "curation":
            if self.curated is None:
                self.curated = oracle.curation(self.docs, self.MIN_TOKENS, self.MIN_RATIO)
            return out == self.curated
        kind, specs, engine, folder, _ = prep
        loaded, result = out
        if loaded != {engine.id: engine, folder.id: folder}:
            return False
        if kind in ("dq", "sparkless"):
            rows = result if kind == "sparkless" else result.select("l_orderkey", "DQ").collect()
            want = oracle.row_results(self.con, "t", specs, "l_orderkey")
            got = {r["l_orderkey"]: r["DQ"] for r in rows}
            return len(rows) == len(want) and all(
                dq_matches(got[key], specs, ov, results) for key, (ov, results) in want.items()
            )
        want = oracle.engine_fold_results(self.con, "t", specs, "l_orderkey")
        if kind == "engine":
            got = {r[0]: r[1] for r in result.select("l_orderkey", "re.result").collect()}
            return got == {k: v[0] for k, v in want.items()}
        got = {r[0]: r[1] for r in result.select("l_orderkey", "fold.result.q").collect()}
        return got == {k: v[1] for k, v in want.items()}


def dq_matches(dq, specs, overall: int, results) -> bool:
    """A DQ struct against the oracle's overall and per-rule results."""
    if dq["overallResult"] != overall:
        return False
    sets = dq["ruleSetResults"]
    for s, res in zip(specs, results):
        ps, pr = _packed(s.set_id, s.rule_id)
        if sets[ps]["ruleResults"][pr] != res:
            return False
    return True


WORKLOADS = {
    "dq_batch": DqBatch,
    "construct_mix": ConstructMix,
}
