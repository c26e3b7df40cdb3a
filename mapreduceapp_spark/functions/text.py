"""Text primitives as Spark SQL strings, each with its DuckDB renderer.

These are the Spark analogs of the reference sample client's
per-string map logic (char classification loop,
``SampleClient.cpp:34-50``), generalized to word granularity and
reused across the text-analysis / dedup operator families.

One form per primitive: callers splice the SQL string into
``selectExpr``/``F.expr`` (one py4j round-trip per projection, not one
per Column op), and every oracle renders the word tokenizer through
:func:`oracle_tokens`.
"""

from __future__ import annotations

# Word tokenizer: lowercase, split on non-alphanumeric runs, drop
# empties. Spark (Java regex over ``lower``) and DuckDB (RE2 over
# ``lower``) return the same tokens on ASCII, Latin-1, CJK and emoji
# text; they differ where the two ``lower`` functions differ, e.g.
# U+0130 'İ' lowers to 'i' + U+0307 in Spark (tokens 'i', 'stanbul'
# for 'İstanbul') and to 'i' in DuckDB ('istanbul'). Pinned by
# tests/test_tokenizer_contract.py.
TOKEN_SPLIT_RE = r"[^a-z0-9]+"


def chars_sql(text: str) -> str:
    """Array of single characters of ``text`` (empty strings dropped).

    ``split(text, '')`` stays inside whole-stage codegen; the filter
    guards against engine-specific empty-edge tokens."""
    return f"filter(split({text}, ''), x -> x != '')"


def tokens_sql(text: str) -> str:
    """Array of lowercase word tokens (empty tokens dropped)."""
    return f"filter(split(lower({text}), '{TOKEN_SPLIT_RE}'), x -> x != '')"


def token_count_sql(text: str) -> str:
    """Number of word tokens of ``text``."""
    return f"size({tokens_sql(text)})"


def oracle_tokens(text: str) -> str:
    """DuckDB twin of :func:`tokens_sql`: the token list of ``text``."""
    return (
        f"list_filter(regexp_split_to_array(lower({text}), "
        f"'{TOKEN_SPLIT_RE}'), x -> x <> '')"
    )
