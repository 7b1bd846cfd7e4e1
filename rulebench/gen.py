"""Seeded input generators.

Every generated rule is emitted twice: as Spark rule text (what the
engine under test compiles, lambda calls included) and as DuckDB SQL
with the lambdas expanded by hand (what the oracle evaluates). Both
sides share the integer result encoding written out in ``oracle.py``.

The same seed always yields the same tables, suites and batches; no
generator touches Spark, so the tests can compare them byte for byte.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from typing import List, Sequence, Tuple

import pandas as pd

PROBABLE_PASS = 0.8

#: lambda library attached to every generated suite; the DuckDB side
#: of each template below spells out the expanded body
LAMBDAS = [
    ("margin", "(p, d) -> p * (1 - d)", (50, 1)),
    ("in_range", "(x, lo, hi) -> x >= lo and x <= hi", (51, 1)),
]

LINEITEM_SCHEMA = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate date"
)

_EPOCH = dt.date(1992, 1, 1)
_DAYS = (dt.date(1998, 12, 31) - _EPOCH).days + 1


@dataclass(frozen=True)
class RuleSpec:
    set_id: int
    rule_id: int
    kind: str  # bool | prob | soft | disabled
    spark: str  # Spark rule text as the engine receives it
    duck: str  # DuckDB SQL of the inner expression (lambdas expanded)
    salience: int = 0


def lineitem(seed: int, rows: int) -> pd.DataFrame:
    """TPC-H-shaped ``lineitem`` rows; l_tax is NULL on ~0.5% of rows."""
    rng = random.Random(seed)
    qty = [float(rng.randint(1, 50)) for _ in range(rows)]
    return pd.DataFrame(
        {
            "l_orderkey": [rng.randint(1, 6_000_000) for _ in range(rows)],
            "l_partkey": [rng.randint(1, 20_000) for _ in range(rows)],
            "l_suppkey": [rng.randint(1, 1_000) for _ in range(rows)],
            "l_linenumber": pd.array([rng.randint(1, 7) for _ in range(rows)], dtype="int32"),
            "l_quantity": qty,
            "l_extendedprice": [round(q * rng.uniform(900.0, 2000.0), 2) for q in qty],
            "l_discount": [rng.randint(0, 10) / 100 for _ in range(rows)],
            "l_tax": [None if rng.random() < 0.005 else rng.randint(0, 8) / 100 for _ in range(rows)],
            "l_returnflag": [rng.choice("ANR") for _ in range(rows)],
            "l_linestatus": [rng.choice("OF") for _ in range(rows)],
            "l_shipdate": [_EPOCH + dt.timedelta(days=rng.randrange(_DAYS)) for _ in range(rows)],
        }
    )


# (kind, spark template, duck template, threshold draw). Thresholds sit
# near the edge of each column's range so that most rows pass each rule.
_TEMPLATES = [
    ("bool", "l_quantity <= {t}", "l_quantity <= {t}", lambda r: r.randint(48, 50)),
    ("bool", "l_extendedprice >= {t}", "l_extendedprice >= {t}", lambda r: r.randint(900, 1400)),
    ("bool", "l_discount between 0 and {t}", "l_discount BETWEEN 0 AND {t}", lambda r: r.choice(["0.09", "0.10"])),
    ("bool", "year(l_shipdate) >= {t}", "year(l_shipdate) >= {t}", lambda r: r.choice([1992, 1993])),
    ("bool", "l_linestatus in ('O', 'F')", "l_linestatus IN ('O', 'F')", lambda r: 0),
    ("bool", "l_linenumber between 1 and {t}", "l_linenumber BETWEEN 1 AND {t}", lambda r: r.choice([6, 7])),
    (
        "bool",
        "margin(l_extendedprice, l_discount) > {t}",
        "(l_extendedprice * (1 - l_discount)) > {t}",
        lambda r: r.randint(800, 1200),
    ),
    (
        "bool",
        "in_range(l_tax, 0, {t})",
        "(l_tax >= 0 AND l_tax <= {t})",
        lambda r: r.choice(["0.07", "0.08"]),
    ),
    ("bool", "l_partkey % {t} <> 0", "l_partkey % {t} <> 0", lambda r: r.randint(150, 600)),
    ("bool", "l_suppkey % {t} <> 1", "l_suppkey % {t} <> 1", lambda r: r.randint(150, 600)),
    (
        "bool",
        "datediff(l_shipdate, date'1992-01-01') >= {t}",
        "date_diff('day', DATE '1992-01-01', l_shipdate) >= {t}",
        lambda r: r.randint(0, 20),
    ),
    ("prob", "1.0 - l_discount * {t}", "1.0 - l_discount * {t}", lambda r: f"{r.randint(5, 20) / 10:.1f}"),
    ("prob", "least(1.0, l_quantity / {t})", "least(1.0, l_quantity / {t})", lambda r: r.randint(1, 3)),
    ("soft", "l_tax < {t}", "l_tax < {t}", lambda r: r.choice(["0.05", "0.07"])),
    ("soft", "l_quantity < {t}", "l_quantity < {t}", lambda r: r.randint(45, 50)),
]


def rule_specs(seed: int, n_rules: int, n_sets: int) -> List[RuleSpec]:
    """``n_rules`` rules over ``lineitem`` spread round-robin over
    ``n_sets`` rule sets. The template mix is fixed (every 50th rule is
    ``disabled_rule()``, the rest cycle through the templates: ~73%
    bool, with lambda calls, the rest probability and ``soft_fail``);
    the seed draws the order, the thresholds and the saliences (a
    permutation, used by engine and folder), so suites of one size cost
    about the same whatever the seed."""
    rng = random.Random(seed)
    templates = [None if i % 50 == 49 else _TEMPLATES[i % len(_TEMPLATES)] for i in range(n_rules)]
    rng.shuffle(templates)
    saliences = list(range(1, n_rules + 1))
    rng.shuffle(saliences)
    out = []
    for i, tpl in enumerate(templates):
        if tpl is None:
            kind, spark, duck = "disabled", "disabled_rule()", "NULL"
        else:
            kind, st, dt_, draw = tpl
            t = draw(rng)
            spark, duck = st.format(t=t), dt_.format(t=t)
            if kind == "soft":
                spark = f"soft_fail({spark})"
        out.append(RuleSpec(100 + i % n_sets, 1000 + i, kind, spark, duck, saliences[i]))
    return out


def dq_suite(suite_id: Tuple[int, int], specs: Sequence[RuleSpec]):
    from quality_spark import rule_suite

    sets: dict = {}
    for s in specs:
        sets.setdefault((s.set_id, 1), []).append(((s.rule_id, 1), s.spark))
    return rule_suite(suite_id, list(sets.items()), lambdas=LAMBDAS, probable_pass=PROBABLE_PASS)


def engine_suites(suite_id: Tuple[int, int], specs: Sequence[RuleSpec]):
    """(engine suite, folder suite) over the same triggers: rule ``k``
    outputs the label ``'r<k>'`` to the engine and adds ``k`` to the
    folded ``q`` field. Output ids differ so both libraries can be
    stored in one output-expression table."""
    from quality_spark import engine_rule, engine_suite

    def build(out, base):
        sets: dict = {}
        for s in specs:
            sets.setdefault((s.set_id, 1), []).append(
                engine_rule((s.rule_id, 1), s.spark, s.salience, out(s), (base + s.rule_id, 1))
            )
        return engine_suite(suite_id, list(sets.items()), lambdas=LAMBDAS, probable_pass=PROBABLE_PASS)

    return (
        build(lambda s: f"'r{s.rule_id}'", 100_000),
        build(lambda s: f"set(q = currentResult.q + {s.rule_id})", 200_000),
    )


_WORDS = (
    "spark rule data quality table column row value batch stream join merge "
    "filter scan sort hash group window key part order line query plan cache "
    "index vector token shard fast slow big small stage task driver worker "
    "schema field struct array map null check pass fail score metric report"
).split()


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``documents`` rows (doc_id, text, lang). Out of every 50
    documents, at fixed positions: 4 near-duplicates (one or two words
    of an earlier original replaced), 1 exact duplicate of an earlier
    original, 1 too-short and 1 highly repetitive document that the
    compression-ratio gate drops; the rest are originals of 20-60 random
    words. Copying only originals keeps every near-duplicate cluster a
    star, so connected components converge in the same number of rounds
    whatever the seed."""
    rng = random.Random(seed)
    texts: List[str] = []
    originals: List[str] = []
    for i in range(n_docs):
        slot = i % 50
        if originals and 1 <= slot <= 4:
            words = rng.choice(originals).split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words))
        elif originals and slot == 5:
            texts.append(rng.choice(originals))
        elif slot == 6:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 5))))
        elif slot == 7:
            texts.append(" ".join([rng.choice(_WORDS)] * rng.randint(30, 60)))
        else:
            originals.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(20, 60))))
            texts.append(originals[-1])
    return pd.DataFrame(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": [rng.choice(["en", "fr", "de"]) for _ in range(n_docs)],
        }
    )
