"""Cross-engine contract of the text primitives in functions/text.py.

Spark runs ``tokens_sql``, ``token_count_sql`` and ``chars_sql``;
DuckDB runs ``oracle_tokens`` and the ``string_split(text, '')``
character split the q_charcount / q_fingerprint oracles use. Every
oracle over ``documents`` relies on the two engines agreeing, and the
test fixtures are pure ASCII, so the edge cases are planted here.
"""

from __future__ import annotations

import duckdb
import pytest

from mapreduceapp_spark.functions.text import (
    chars_sql,
    oracle_tokens,
    token_count_sql,
    tokens_sql,
)

PLANTED = {
    "empty": "",
    "separators_only": " -,;!? ",
    "leading_sep": "--alpha beta",
    "trailing_sep": "alpha beta..",
    "doubled_sep": "alpha  ,, beta",
    "mixed_case": "MiXeD CaSe WORDS",
    "digits": "route 66 and 4x4 r2d2",
    "underscore_hyphen": "snake_case kebab-case",
    "tab_newline": "tab\tseparated\nlines\r\nend",
    "latin1_accents": "Café naïve ÜBER façade",
    "cjk": "日本語 テキスト 中文abc",
    "emoji": "emoji 😀 here🎉there 👍🏽",
    "dotted_capital_i": "İstanbul",
}

# Spark's lower() maps U+0130 to 'i' + U+0307 (Java's full case
# mapping) and the combining dot then splits the token; DuckDB's
# lower() maps it to a plain 'i'. No fixture document contains it.
DIVERGENT = {
    "dotted_capital_i": "Spark lower('İ') is 'i' + U+0307, so 'İstanbul' "
    "tokenizes to ['i', 'stanbul']; DuckDB lower gives 'istanbul'",
}


@pytest.fixture(scope="module")
def engines(spark):
    rows = sorted(PLANTED.items())
    got_spark = {
        r["k"]: (list(r["tk"]), r["n"], list(r["ch"]))
        for r in spark.createDataFrame(rows, "k string, text string")
        .selectExpr(
            "k",
            f"{tokens_sql('text')} AS tk",
            f"{token_count_sql('text')} AS n",
            f"{chars_sql('text')} AS ch",
        )
        .collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (k VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        got_duck = {
            k: (tk, len(tk), ch)
            for k, tk, ch in con.execute(
                f"SELECT k, {oracle_tokens('text')},"
                " list_filter(string_split(text, ''), x -> x <> '') FROM t"
            ).fetchall()
        }
    finally:
        con.close()
    return got_spark, got_duck


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(
            k,
            marks=pytest.mark.xfail(strict=True, reason=DIVERGENT[k])
            if k in DIVERGENT
            else (),
        )
        for k in PLANTED
    ],
)
def test_tokenizer_agrees_across_engines(engines, case):
    got_spark, got_duck = engines
    s_tok, s_n, s_ch = got_spark[case]
    d_tok, d_n, d_ch = got_duck[case]
    assert s_n == len(s_tok)
    assert s_ch == d_ch == list(PLANTED[case])
    assert s_tok == d_tok
    assert s_n == d_n
