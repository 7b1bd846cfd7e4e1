"""``rule_runner`` — evaluate every rule of a suite per row into one
nested DQ result column.

Reference behavior: impl/RuleRunner.scala:58-189 (custom codegen’d
expression); here the same result is declared as a single
``named_struct``/``map`` tree over per-rule encoded expressions, so
Catalyst plans/codegens it like any user query. Binding to a frame
stages each encoded rule once as a column and assembles the struct
from references (:func:`_bind`). At scale this is a pure narrow map —
no shuffle, no UDF, fully pushdown/AQE-friendly.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import RuleSuite, pack_id
from ..plans.compiler import expand_rules, probe_types
from ..results import encode_rule_sql, encode_rule_sql_generic, overall_result_spark_sql

__all__ = [
    "rule_runner",
    "add_data_quality",
    "add_data_quality_f",
    "add_overall_results_and_details",
    "add_overall_results_and_details_f",
    "rule_runner_details",
]


def _lit_packed(i) -> Column:
    return F.lit(pack_id(i)).cast("bigint")


def _encoded_sqls(suite: RuleSuite, df: Optional[DataFrame]) -> List[List[str]]:
    """Per ruleset, per rule: SQL of the int-encoded rule expression."""
    expanded = expand_rules(suite)
    if df is not None:
        dtypes = probe_types(df, [s for _, _, s in expanded])
        encoded = [encode_rule_sql(s, t) for (_, _, s), t in zip(expanded, dtypes)]
    else:
        encoded = [encode_rule_sql_generic(s) for _, _, s in expanded]
    return _per_set(encoded, [rs.rules for rs in suite.rule_sets])


def _per_set(flat: List[str], shape: Sequence[Sequence]) -> List[List[str]]:
    """``flat`` cut into consecutive runs as long as each of ``shape``."""
    out: List[List[str]] = []
    i = 0
    for part in shape:
        out.append(flat[i : i + len(part)])
        i += len(part)
    return out


def _assemble(
    suite: RuleSuite,
    per_set_enc_sqls: Sequence[Sequence[str]],
    with_suite_overall: bool,
) -> Column:
    """Builds the DQ struct as ONE SQL string + one F.expr.

    Column-object assembly costs a py4j round trip per operation —
    ~10 calls per rule, 20+ seconds of driver time at 1000 rules.
    String assembly is pure Python (milliseconds) and parses in one
    JVM call; the overall fold uses the flat array_contains shape so
    expression depth stays constant regardless of suite size."""
    set_entries: List[str] = []
    all_sqls: List[str] = []
    for rs, enc_sqls in zip(suite.rule_sets, per_set_enc_sqls):
        all_sqls.extend(enc_sqls)
        if enc_sqls:
            kv = ", ".join(
                f"{pack_id(r.id)}L, CAST({e} AS INT)"
                for r, e in zip(rs.rules, enc_sqls)
            )
            rule_map = f"map({kv})"
        else:
            rule_map = "CAST(map() AS MAP<BIGINT, INT>)"
        set_overall = overall_result_spark_sql(list(enc_sqls), suite.probable_pass)
        set_entries.append(
            f"{pack_id(rs.id)}L, named_struct("
            f"'overallResult', {set_overall}, 'ruleResults', {rule_map})"
        )

    if set_entries:
        sets_map = f"map({', '.join(set_entries)})"
    else:
        sets_map = (
            "CAST(map() AS MAP<BIGINT, "
            "STRUCT<overallResult: INT, ruleResults: MAP<BIGINT, INT>>>)"
        )

    fields = [f"'id', {pack_id(suite.id)}L"]
    if with_suite_overall:
        # reference folds ruleset overalls into the suite overall
        # (impl/RuleRunner.scala:139-162); a ruleset overall is Passed or
        # Failed only, so folding over all rules directly is equivalent.
        fields.append(
            f"'overallResult', {overall_result_spark_sql(all_sqls, suite.probable_pass)}"
        )
    fields.append(f"'ruleSetResults', {sets_map}")
    return F.expr(f"named_struct({', '.join(fields)})")


def rule_runner(suite: RuleSuite, df: Optional[DataFrame] = None) -> Column:
    """Column producing ``ruleSuiteResultType``
    (STRUCT<id BIGINT, overallResult INT, ruleSetResults MAP<…>>).

    With no frame to stage on, the Column API inlines each encoded rule
    into the struct text, where the map entry and both overall folds
    repeat it. The ``add_*`` helpers are the fast path: they evaluate
    each rule once (:func:`_bind`). Pass ``df`` (the frame the column
    will be selected on) to get exact type-directed result encoding.
    Reference entry: impl/imports/RuleRunnerImports.scala:24.
    """
    enc_sqls = _encoded_sqls(suite, df)
    return _assemble(suite, enc_sqls, with_suite_overall=True)


def rule_runner_details(suite: RuleSuite, df: Optional[DataFrame] = None) -> Column:
    """Details variant — no suite-level overallResult field
    (reference: impl/RuleSparkTypes.scala:26)."""
    enc_sqls = _encoded_sqls(suite, df)
    return _assemble(suite, enc_sqls, with_suite_overall=False)


def _fresh_names(df: DataFrame, prefix: str, n: int) -> List[str]:
    """``prefix<i>`` for i < n, each with ``_`` appended until no column
    of ``df`` has the name (case-insensitively, as Spark resolves)."""
    used = {c.lower() for c in df.columns}
    names = []
    for i in range(n):
        nm = f"{prefix}{i}"
        while nm.lower() in used:
            nm += "_"
        used.add(nm.lower())
        names.append(nm)
    return names


def _stage(df: DataFrame, sqls: Sequence[str], prefix: str) -> Tuple[DataFrame, List[str]]:
    """``df`` plus each SQL text as an INT column under a fresh name.

    ONE selectExpr call instead of a py4j F.expr/cast/alias round trip
    per rule — at 1000 rules that is ~3000 saved JVM calls (measured:
    the staging projection built 3x faster, identical schema/plan). The
    encoded SQL is embeddable text by the same invariant _assemble's
    single-string build already relies on."""
    names = _fresh_names(df, prefix, len(sqls))
    staged = df.selectExpr(
        "*", *[f"CAST(({s}) AS INT) AS `{nm}`" for s, nm in zip(sqls, names)]
    )
    return staged, names


def _bind(
    df: DataFrame,
    enc_sqls: Sequence[Sequence[str]],
    assemble: Callable[[List[List[str]]], List[Column]],
) -> DataFrame:
    """The one way a suite binds to a frame: project every encoded rule
    once into an INT column (Spark's codegen splits N independent small
    expressions into many compilable methods), ``assemble`` the result
    columns from the per-set column REFERENCES, then drop the helpers.
    Inlined, each rule repeats wherever the result uses it (map entry,
    both overall folds, engine and folder arms), and past a few hundred
    rules the struct outgrows what Janino compiles into one method and
    falls to interpreted projection. CollapseProject leaves the two
    projections alone because the staged columns are non-cheap and each
    is referenced more than once. ``*`` and ``drop`` pass the input
    columns through without parsing their names (``a.b`` stays one
    column)."""
    staged, names = _stage(df, [s for ss in enc_sqls for s in ss], "__qs_enc")
    return staged.select("*", *assemble(_per_set(names, enc_sqls))).drop(*names)


def add_flat_rule_results(
    df: DataFrame, suite: RuleSuite, keep: Optional[Sequence[str]] = None
) -> DataFrame:
    """``keep`` columns (default: every input column) + one flat row per
    (input row, rule): the rows of ``explode(flatten_results(DQ))``
    built with no intermediate maps and no higher-order functions. The
    overall folds are staged as columns too: structs made purely of
    column references explode at generator speed, while embedding the
    rules and folds in all N structs makes the generator's child
    evaluate ~N^2 expressions per row."""
    enc_sqls = _encoded_sqls(suite, df)
    staged, names = _stage(df, [s for ss in enc_sqls for s in ss], "__qs_enc")
    set_refs = _per_set(names, enc_sqls)
    pp = suite.probable_pass
    staged, ov_names = _stage(
        staged,
        [overall_result_spark_sql(names, pp)]
        + [overall_result_spark_sql(refs, pp) for refs in set_refs],
        "__qs_ov",
    )
    structs = [
        "named_struct("
        f"'ruleSuiteId', {suite.id.id}, 'ruleSuiteVersion', {suite.id.version}, "
        f"'ruleSuiteResult', {ov_names[0]}, 'ruleSetResult', {set_ov}, "
        f"'ruleSetId', {rs.id.id}, 'ruleSetVersion', {rs.id.version}, "
        f"'ruleId', {r.id.id}, 'ruleVersion', {r.id.version}, "
        f"'ruleResult', {ref})"
        for rs, refs, set_ov in zip(suite.rule_sets, set_refs, ov_names[1:])
        for r, ref in zip(rs.rules, refs)
    ]
    (f,) = _fresh_names(staged, "__qs_flat", 1)
    exploded = staged.select(
        *(["*"] if keep is None else keep),
        F.explode(F.expr(f"array({', '.join(structs)})")).alias(f),
    )
    return exploded.select("*", f"{f}.*").drop(f, *names, *ov_names)


def add_data_quality(
    df: DataFrame, suite: RuleSuite, name: str = "DQ"
) -> DataFrame:
    """``df`` plus the nested DQ result column
    (reference: impl/util/AddDataFunctionsImports.scala:21-60)."""
    return _bind(
        df, _encoded_sqls(suite, df),
        lambda refs: [_assemble(suite, refs, True).alias(name)],
    )


def add_overall_results_and_details(
    df: DataFrame,
    suite: RuleSuite,
    overall_name: str = "DQ_overallResult",
    details_name: str = "DQ_Details",
) -> DataFrame:
    """Split storage layout: top-level int overall + details struct
    without the suite overall — 30-50% faster post-hoc filtering on
    parquet since the int column predicate pushes down
    (reference: RuleResults.scala:52-57, docs/background/storage_method.md:30)."""

    def build(refs):
        flat = [s for set_refs in refs for s in set_refs]
        return [
            F.expr(
                overall_result_spark_sql(flat, suite.probable_pass)
            ).alias(overall_name),
            _assemble(suite, refs, with_suite_overall=False).alias(
                details_name
            ),
        ]

    return _bind(df, _encoded_sqls(suite, df), build)


def add_data_quality_f(suite: RuleSuite, name: str = "DQ"):
    """Curried variant for ``df.transform(...)`` pipelines — the
    reference's addDataQualityF (impl/util/AddDataFunctionsImports.scala)."""
    return lambda df: add_data_quality(df, suite, name)


def add_overall_results_and_details_f(
    suite: RuleSuite,
    overall_name: str = "DQ_overallResult",
    details_name: str = "DQ_Details",
):
    return lambda df: add_overall_results_and_details(df, suite, overall_name, details_name)
