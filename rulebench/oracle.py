"""DuckDB oracle: the rule result encoding, written independently of
the compiler under test.

``DuckDBProcessor`` is deliberately not used here: it shares
``expand_rules`` and the result encoders with the Spark path, so it
would agree with the engine on any compiler bug. The encoding below
follows the reference semantics (Passed=100000, Failed=0,
SoftFailed=-1, DisabledRule=-2, probability p → int(p × 100000)).
DuckDB rounds on a double→int CAST where Spark truncates, hence the
``trunc()``.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

from .gen import PROBABLE_PASS, RuleSpec

PASSED = 100000


def encode(spec: RuleSpec) -> str:
    sql = spec.duck
    if spec.kind == "disabled":
        return "-2"
    if spec.kind == "bool":
        return f"(CASE WHEN ({sql}) THEN {PASSED} ELSE 0 END)"
    if spec.kind == "soft":
        return f"(CASE WHEN ({sql}) IS NULL THEN 0 WHEN ({sql}) THEN {PASSED} ELSE -1 END)"
    if spec.kind == "prob":
        e = f"(CAST(({sql}) AS DOUBLE))"
        return (
            f"(CASE WHEN {e} IS NULL THEN 0 WHEN {e} = 0.0 THEN 0 "
            f"WHEN {e} = 1.0 THEN {PASSED} WHEN {e} = -1.0 THEN -1 "
            f"WHEN {e} = -2.0 THEN -2 "
            f"ELSE CAST(trunc({e} * {PASSED}) AS INTEGER) END)"
        )
    raise ValueError(spec.kind)


def _fails(col: str) -> str:
    return (
        f"({col} = 0 OR ({col} NOT IN ({PASSED}, -1, -2) "
        f"AND CAST({col} AS DOUBLE) < {PROBABLE_PASS * PASSED}))"
    )


def overall(cols: Sequence[str]) -> str:
    if not cols:
        return str(PASSED)
    return f"(CASE WHEN {' OR '.join(_fails(c) for c in cols)} THEN 0 ELSE {PASSED} END)"


def _encoded(table: str, specs: Sequence[RuleSpec], keep: str = "") -> str:
    encs = ", ".join(f"{encode(s)} AS r{i}" for i, s in enumerate(specs))
    return f"SELECT {keep}{encs} FROM {table}"


def rule_counts(con, table: str, specs: Sequence[RuleSpec]) -> Tuple[Dict[int, Tuple[int, int, int]], int]:
    """({rule_id: (passed, failed, soft_failed)}, rows whose overall
    result failed) — what the ``dq_batch`` read-back reports."""
    cols = [f"r{i}" for i in range(len(specs))]
    aggs = [f"count_if({c} = {v})" for c in cols for v in (PASSED, 0, -1)]
    aggs.append(f"count_if({overall(cols)} = 0)")
    row = con.execute(f"SELECT {', '.join(aggs)} FROM ({_encoded(table, specs)})").fetchone()
    per_rule = {s.rule_id: tuple(int(v) for v in row[3 * i : 3 * i + 3]) for i, s in enumerate(specs)}
    return per_rule, int(row[-1])


def row_results(con, table: str, specs: Sequence[RuleSpec], key: str) -> Dict[object, Tuple[int, Tuple[int, ...]]]:
    """key → (overall result, per-rule results in ``specs`` order)."""
    cols = [f"r{i}" for i in range(len(specs))]
    rows = con.execute(
        f"SELECT k, {overall(cols)}, {', '.join(cols)} FROM ({_encoded(table, specs, f'{key} AS k, ')})"
    ).fetchall()
    return {r[0]: (int(r[1]), tuple(int(v) for v in r[2:])) for r in rows}


def engine_fold_results(con, table: str, specs: Sequence[RuleSpec], key: str) -> Dict[object, Tuple[str, float]]:
    """key → (engine label, folded q) for the suites of
    ``gen.engine_suites``: the label of the lowest-salience rule whose
    trigger passed, and l_quantity plus the ids of every passing rule
    (NULL when no rule passed)."""
    passed = [f"(r{i} = {PASSED})" for i in range(len(specs))]
    by_salience = sorted(range(len(specs)), key=lambda i: specs[i].salience)
    label = "CASE " + " ".join(f"WHEN {passed[i]} THEN 'r{specs[i].rule_id}'" for i in by_salience) + " END"
    fold = " + ".join(f"(CASE WHEN {p} THEN {s.rule_id} ELSE 0 END)" for p, s in zip(passed, specs))
    any_passed = " OR ".join(passed)
    q = f"(CASE WHEN {any_passed} THEN l_quantity + {fold} END)"
    rows = con.execute(
        f"SELECT k, {label}, {q} FROM ({_encoded(table, specs, f'{key} AS k, l_quantity, ')})"
    ).fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def union_find_keep(doc_ids: Sequence[int], pairs: Sequence[Tuple[int, int]]) -> Dict[int, bool]:
    """doc_id → keep: one keeper (the smallest id) per connected
    component of the pair graph; documents in no pair keep themselves."""
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) == d for d in doc_ids}


def curation(docs, min_tokens: int, min_ratio: float) -> Dict[int, bool]:
    """Expected keep flags of the ``doc_curation`` pipeline on a pandas
    frame: the filter and compression gates replayed in Python, then a
    union-find over the near-duplicate pairs of the DuckDB replay of the
    banded LSH pipeline (the gate oracle's SQL)."""
    import zlib

    import duckdb
    import pandas as pd

    from __spark_entry__ import _oracle_minhash_lsh_near_dup

    seen = set()
    kept = []
    for doc_id, text in sorted(zip(docs["doc_id"], docs["text"])):
        if len(text.split()) < min_tokens:
            continue
        if text in seen:
            continue
        seen.add(text)
        b = text.encode("utf-8")
        if len(zlib.compress(b, 6)) / len(b) < min_ratio:
            continue
        kept.append(int(doc_id))
    con = duckdb.connect()
    try:
        con.register("all_docs", docs)
        con.register("kept_ids", pd.DataFrame({"doc_id": kept}))
        con.execute("CREATE VIEW documents AS SELECT a.* FROM all_docs a JOIN kept_ids USING (doc_id)")
        pairs = [(int(a), int(b)) for a, b, _ in con.execute(_oracle_minhash_lsh_near_dup()).fetchall()]
    finally:
        con.close()
    return union_find_keep(kept, pairs)
