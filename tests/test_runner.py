"""rule_runner correctness: schema golden, encoding, overall semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quality_spark import (
    PASSED_INT,
    Id,
    add_data_quality,
    add_overall_results_and_details,
    pack_id,
    rule_runner,
    rule_suite,
    unpack_id,
)
from quality_spark.functions import api as Q

SUITE = rule_suite(
    (1, 1),
    [
        (
            (10, 1),
            [
                ((100, 1), "l_quantity > 0"),
                ((101, 1), "l_extendedprice >= 0"),
                ((102, 1), "l_discount between 0 and 1"),
            ],
        ),
        (
            (20, 1),
            [
                ((200, 1), "1.0D - l_discount"),  # probability rule
                ((201, 1), "soft_fail(l_tax < 0.05)"),
                ((202, 1), "disabled_rule()"),
            ],
        ),
    ],
)

GOLDEN_SCHEMA = (
    "struct<id:bigint,overallResult:int,"
    "ruleSetResults:map<bigint,struct<overallResult:int,ruleResults:map<bigint,int>>>>"
)


def test_pack_unpack_roundtrip():
    for i, v in [(1, 1), (0, 0), (2**31 - 1, 7), (-3, 5), (42, 2**31 - 1)]:
        assert unpack_id(pack_id(Id(i, v))) == Id(i, v)
    assert pack_id(Id(1, 2)) == 4294967298


def test_result_schema_golden(lineitem):
    df = add_data_quality(lineitem, SUITE)
    assert df.schema["DQ"].dataType.simpleString() == GOLDEN_SCHEMA


def test_encoding_semantics(spark):
    df = spark.createDataFrame(
        [(1.0, 0.3, True)], "d double, p double, b boolean"
    )
    suite = rule_suite(
        (5, 1),
        [
            (
                (1, 1),
                [
                    ((1, 1), "b"),                    # bool true -> 100000
                    ((2, 1), "NOT b"),                # bool false -> 0
                    ((3, 1), "p"),                    # probability 0.3 -> 30000
                    ((4, 1), "d"),                    # double 1.0 -> Passed
                    ((5, 1), "CAST(NULL AS BOOLEAN)"),  # null -> Failed
                    ((6, 1), "passed()"),             # int 100000 -> Failed (ref. parity)
                    ((7, 1), "soft_failed()"),        # -1 int -> SoftFailed
                    ((8, 1), "disabled_rule()"),      # -2 int -> DisabledRule
                    ((9, 1), "'maybe'"),              # string soft
                ],
            )
        ],
    )
    row = df.select(rule_runner(suite, df).alias("DQ")).collect()[0]["DQ"]
    results = row["ruleSetResults"][pack_id(Id(1, 1))]["ruleResults"]
    enc = {unpack_id(k).id: v for k, v in results.items()}
    assert enc == {
        1: 100000,
        2: 0,
        3: 30000,
        4: 100000,
        5: 0,
        6: 0,  # reference anyToRuleResultInt: int 100000 is not a known literal -> Failed
        7: -1,
        8: -2,
        9: -1,
    }


def test_overall_semantics_probable_pass(spark):
    df = spark.createDataFrame([(0.85,), (0.5,)], "p double")
    suite = rule_suite((6, 1), [((1, 1), [((1, 1), "p")])], probable_pass=0.8)
    out = df.select(
        F.col("p"), rule_runner(suite, df)["overallResult"].alias("o")
    ).collect()
    by_p = {r["p"]: r["o"] for r in out}
    assert by_p[0.85] == PASSED_INT  # >= 0.8 keeps Passed
    assert by_p[0.5] == 0  # below threshold -> Failed


def test_soft_and_disabled_do_not_fail_overall(spark):
    df = spark.createDataFrame([(1,)], "x int")
    suite = rule_suite(
        (7, 1),
        [((1, 1), [((1, 1), "soft_fail(x > 100)"), ((2, 1), "disabled_rule()")])],
    )
    o = df.select(rule_runner(suite, df)["overallResult"].alias("o")).collect()[0]["o"]
    assert o == PASSED_INT


def test_failed_dominates_overall(lineitem):
    suite = rule_suite(
        (8, 1),
        [((1, 1), [((1, 1), "l_quantity > 0"), ((2, 1), "l_quantity < 0")])],
    )
    df = add_data_quality(lineitem, suite)
    assert df.filter(F.col("DQ.overallResult") == PASSED_INT).count() == 0


def test_add_overall_results_and_details(lineitem):
    df = add_overall_results_and_details(lineitem, SUITE)
    assert "DQ_overallResult" in df.columns and "DQ_Details" in df.columns
    assert (
        df.schema["DQ_Details"].dataType.simpleString()
        == "struct<id:bigint,"
        "ruleSetResults:map<bigint,struct<overallResult:int,ruleResults:map<bigint,int>>>>"
    )
    # overall equals the full runner's overall on every row
    full = add_data_quality(lineitem, SUITE)
    a = df.select(F.sum(F.when(F.col("DQ_overallResult") == 0, 1).otherwise(0))).collect()[0][0]
    b = full.select(F.sum(F.when(F.col("DQ.overallResult") == 0, 1).otherwise(0))).collect()[0][0]
    assert a == b


def test_flatten_results(lineitem):
    df = add_data_quality(lineitem, SUITE)
    flat = df.select(
        F.explode(Q.flatten_results(F.col("DQ"))).alias("f")
    ).select("f.*")
    assert flat.columns == [
        "ruleSuiteId",
        "ruleSuiteVersion",
        "ruleSuiteResult",
        "ruleSetResult",
        "ruleSetId",
        "ruleSetVersion",
        "ruleId",
        "ruleVersion",
        "ruleResult",
    ]
    n = lineitem.count()
    assert flat.count() == n * 6
    # disabled rule is constant -2 everywhere
    assert (
        flat.filter((F.col("ruleId") == 202) & (F.col("ruleResult") != -2)).count() == 0
    )


def test_rule_result_lookup(lineitem):
    df = add_data_quality(lineitem, SUITE)
    got = df.select(
        Q.rule_result(
            F.col("DQ"),
            F.lit(pack_id(Id(1, 1))),
            F.lit(pack_id(Id(10, 1))),
            F.lit(pack_id(Id(100, 1))),
        ).alias("r")
    )
    # l_quantity > 0 always holds in TPC-H-ish data
    assert got.filter(F.col("r") != PASSED_INT).count() == 0


def test_lambda_rule_end_to_end(lineitem):
    suite = rule_suite(
        (9, 1),
        [((1, 1), [((1, 1), "margin(l_extendedprice, l_discount) > 0")])],
        lambdas=[("margin", "(p, d) -> p * (1 - d)", (50, 1))],
    )
    df = add_data_quality(lineitem, suite)
    assert df.filter(F.col("DQ.overallResult") == 0).count() == 0


def test_probability_and_pack_macros(spark):
    row = spark.sql(
        "SELECT "
        + "(CAST((1000) AS DOUBLE) / 100000.0D) AS p, "
        + "((CAST((1) AS BIGINT) << 32) | (CAST((2) AS BIGINT) & 4294967295)) AS packed"
    ).collect()[0]
    assert row["p"] == 0.01
    assert row["packed"] == 4294967298


def test_nan_rule_result_fails(spark):
    """A NaN rule value must encode to 0 (Failed) like the JVM's
    (int)NaN — NaN sorts greatest in LEAST/GREATEST, so without the
    isnan guard it saturated to INT_MAX and silently PASSED
    (code-review regression)."""
    from quality_spark import Id, rule_suite
    from quality_spark.model import PASSED_INT
    from quality_spark.operators.runner import add_data_quality

    df = spark.createDataFrame([(0.0, 0.0), (1.0, 1.0)], "a double, b double")
    # 0.0/0.0 -> NaN under try_divide; 1.0/1.0 -> 1.0 -> Passed
    suite = rule_suite((42, 1), [((1, 1), [((1, 1), "try_divide(a, b)")])])
    dq = add_data_quality(df, suite)
    got = {r["a"]: r["DQ"]["overallResult"] for r in dq.collect()}
    assert got[1.0] == PASSED_INT
    assert got[0.0] == 0  # NaN -> Failed, never INT_MAX-pass


def _assert_helpers_match_column_apis(df, n):
    """Each staged ``add_*`` helper must give value-identical results
    to its inline Column API on the same frame, including soft-fail
    and null encodings, and leak no helper column."""
    from quality_spark import (
        add_folder,
        add_rule_engine,
        engine_rule,
        engine_suite,
        rule_engine_runner,
        rule_folder_runner,
    )
    from quality_spark.operators.runner import rule_runner_details

    def same(a, b):
        assert a.columns == b.columns
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))

    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
    triggers = [f"({cols[i % 4]} % {2 + (i % 5)}) = 0" for i in range(n)]
    rules = [((1000 + i, 1), t) for i, t in enumerate(triggers)]
    rules.append(((2000, 1), "CAST(NULL AS BOOLEAN)"))  # null -> Failed
    rules.append(((2001, 1), "CASE WHEN l_orderkey % 2 = 0 THEN -1 ELSE 1 END"))
    half = len(rules) // 2
    suite = rule_suite((77, 1), [((1, 1), rules[:half]), ((2, 1), rules[half:])])

    dq = add_data_quality(df, suite)
    assert dq.columns == df.columns + ["DQ"]
    same(dq, df.select("*", rule_runner(suite, df).alias("DQ")))

    so = add_overall_results_and_details(df, suite)
    assert so.columns == df.columns + ["DQ_overallResult", "DQ_Details"]
    same(
        so,
        df.select(
            "*",
            rule_runner(suite, df)["overallResult"].alias("DQ_overallResult"),
            rule_runner_details(suite, df).alias("DQ_Details"),
        ),
    )

    # salience reversed against declaration order, so the salient rule
    # is not simply the first passing one
    esuite = engine_suite(
        (78, 1),
        [((1, 1), [
            engine_rule((i, 1), t, n - i, f"{cols[i % 4]} + {i}", (5000 + i, 1))
            for i, t in enumerate(triggers)
        ])],
    )
    same(
        add_rule_engine(df, esuite, result_ddl="bigint", name="re"),
        df.select("*", rule_engine_runner(esuite, "bigint", df).alias("re")),
    )

    fsuite = engine_suite(
        (79, 1),
        [((1, 1), [
            engine_rule((i, 1), t, i, f"set(x = (currentResult.x * 31 + {i}) % 1000003)", (6000 + i, 1))
            for i, t in enumerate(triggers)
        ])],
    )
    start = F.struct(F.lit(0).cast("bigint").alias("x"))
    same(
        add_folder(df, fsuite, start, name="fold"),
        df.select("*", rule_folder_runner(fsuite, start, df).alias("fold")),
    )


def test_staged_big_suite_matches_unstaged(lineitem):
    """Past 256 rules (round 7: the inline struct fell to INTERPRETED
    projection past ~500 rules, an 8x per-rule cliff at 1000)."""
    _assert_helpers_match_column_apis(lineitem.limit(200), 300)


def test_staged_small_suite_matches_unstaged(lineitem):
    _assert_helpers_match_column_apis(lineitem.limit(200), 40)


def test_helper_columns_never_collide(spark):
    """Input columns with a dotted name and with the names staging
    helpers use pass through every binding entry point untouched."""
    from quality_spark import add_folder, add_rule_engine, engine_rule, engine_suite
    from quality_spark.operators.runner import add_flat_rule_results

    cols = ["a.b", "__e0", "__ovs", "__qs_enc0"]
    df = spark.createDataFrame(
        [(1, 2, 3, 4), (-1, 2, 3, 0)],
        ", ".join(f"`{c}` int" for c in cols),
    )
    triggers = ["`a.b` > 0", "__qs_enc0 > 0", "__e0 + __ovs = 5"]

    def suite(output):
        return engine_suite(
            (3, 1),
            [((1, 1), [
                engine_rule((i, 1), t, i, output.format(10 ** i), (700 + i, 1))
                for i, t in enumerate(triggers)
            ])],
        )

    esuite, fsuite = suite("{}"), suite("set(v = currentResult.v + {})")

    dq = add_data_quality(df, esuite)
    assert dq.columns == cols + ["DQ"]
    got = {r["a.b"]: r["DQ"]["overallResult"] for r in dq.collect()}
    assert got == {1: PASSED_INT, -1: 0}

    re = add_rule_engine(df, esuite, result_ddl="int", name="re")
    assert re.columns == cols + ["re"]
    assert {r["a.b"]: r["re"]["result"] for r in re.collect()} == {1: 1, -1: 100}

    fold = add_folder(df, fsuite, F.struct(F.lit(0).alias("v")), name="fold")
    assert fold.columns == cols + ["fold"]
    assert {r["a.b"]: r["fold"]["result"]["v"] for r in fold.collect()} == {
        1: 111, -1: 100
    }

    flat = add_flat_rule_results(df, esuite)
    assert flat.columns[:4] == cols and flat.columns[4:] == [
        "ruleSuiteId", "ruleSuiteVersion", "ruleSuiteResult", "ruleSetResult",
        "ruleSetId", "ruleSetVersion", "ruleId", "ruleVersion", "ruleResult",
    ]
    got = sorted((r["a.b"], r["ruleId"], r["ruleResult"]) for r in flat.collect())
    assert got == [
        (-1, 0, 0), (-1, 1, 0), (-1, 2, PASSED_INT),
        (1, 0, PASSED_INT), (1, 1, PASSED_INT), (1, 2, PASSED_INT),
    ]


def test_trailing_line_comment_rule(spark):
    """A rule ending in a ``--`` comment compiles: the encoders wrap the
    text in parentheses, which the comment must not swallow."""
    df = spark.createDataFrame([(1,), (-1,)], "x int")
    suite = rule_suite((4, 1), [((1, 1), [((1, 1), "x > 0 -- positive")])])
    got = {r["x"]: r["DQ"]["overallResult"] for r in add_data_quality(df, suite).collect()}
    assert got == {1: PASSED_INT, -1: 0}
