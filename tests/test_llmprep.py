"""LLM data-prep operators: oracle parity + semantic invariants."""

from __future__ import annotations

import pytest

from tests.oracle import assert_matches_oracle

QUERIES = [
    "q_contamination",
    "q_ngram_counts",
    "q_bm25",
    "q_domain_mix",
    "q_repetition_filter",
    "q_duplicate_passages",
    "q_zipf_fit",
]


@pytest.mark.parametrize("name", QUERIES)
def test_llmprep_oracle(spark, sf_dir, name):
    assert_matches_oracle(spark, name, sf_dir)


def test_contamination_nonvacuous(spark, sf_dir):
    """The probe density must produce real overlap at test SF —
    an empty result would make the oracle comparison vacuous."""
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_contamination").builder(spark, sf_dir).collect()
    assert len(rows) > 0
    from mapreduceapp_spark.operators.llmprep import PROBE_MOD

    for r in rows:
        assert r["doc_id"] % PROBE_MOD != 0, "probe docs must not be flagged"
        assert r["n_overlap"] >= 1


def test_ngram_counts_shape(spark, sf_dir):
    from mapreduceapp_spark.operators.llmprep import NGRAM_TOPK
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_ngram_counts").builder(spark, sf_dir).collect()
    by_n: dict[int, list] = {}
    for r in rows:
        by_n.setdefault(r["n"], []).append(r)
    assert set(by_n) == {2, 3}
    for n, grp in by_n.items():
        assert len(grp) == NGRAM_TOPK
        ranked = sorted(grp, key=lambda r: r["rnk"])
        cnts = [r["cnt"] for r in ranked]
        assert cnts == sorted(cnts, reverse=True), "counts must be non-increasing"
        for r in ranked:
            assert len(r["gram"].split(" ")) == n


def test_bm25_rank_consistency(spark, sf_dir):
    """Ranks must follow (score desc, doc_id asc) within each term,
    and tf must be positive (only matching docs are scored)."""
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_bm25").builder(spark, sf_dir).collect()
    assert rows
    by_term: dict[str, list] = {}
    for r in rows:
        assert r["tf"] >= 1
        assert r["score"] > 0
        by_term.setdefault(r["term"], []).append(r)
    for term, grp in by_term.items():
        ranked = sorted(grp, key=lambda r: r["rnk"])
        keys = [(-r["score"], r["doc_id"]) for r in ranked]
        assert keys == sorted(keys), f"rank order broken for {term}"


def test_domain_mix_budget(spark, sf_dir):
    """Kept tokens must respect the global budget (keep-rates are
    min-capped at 1, so kept <= budget + per-source granularity
    slack) and higher-weight sources must not be sampled DOWN more
    aggressively than lower-weight ones of similar size."""
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables
    from mapreduceapp_spark.functions.text import token_count_sql
    import pyspark.sql.functions as F

    kept = {
        r["source"]: r
        for r in get_query("q_domain_mix").builder(spark, sf_dir).collect()
    }
    d = tables(spark, sf_dir).documents
    totals = {
        r["source"]: r["t"]
        for r in d.groupBy("source")
        .agg(F.sum(F.expr(token_count_sql("text"))).alias("t"))
        .collect()
    }
    total_tok = sum(totals.values())
    kept_tok = sum(r["tok_kept"] for r in kept.values())
    # budget = half the corpus; hash granularity is 1/100 per source,
    # so allow one bucket's worth of slack per source
    slack = sum(totals.values()) // 100 + len(totals)
    assert kept_tok <= total_tok // 2 + slack
    # every source keeps something, and no source keeps more than it has
    for s, r in kept.items():
        assert 0 < r["tok_kept"] <= totals[s]


def test_repetition_filter_flags_planted_doc(spark, tmp_path):
    """A doc that is one phrase repeated must be flagged; a doc of
    all-distinct words must not."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox " * 20, "en", "src0", 400),
            (2, "alpha beta gamma delta epsilon zeta eta theta", "en", "src0", 48),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    from mapreduceapp_spark.plans.registry import get_query

    got = {
        r["doc_id"]: r["repetitive"]
        for r in get_query("q_repetition_filter").builder(spark, sf).collect()
    }
    assert got == {1: 1, 2: 0}


def test_training_order_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_training_order", sf_dir)


def test_training_order_equal_fill(spark, sf_dir):
    """ntile's guarantee: shard sizes differ by at most one, the
    bigger shards come first, and all docs are covered."""
    from mapreduceapp_spark.operators.llmprep import SHARD_COUNT
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    rows = sorted(
        get_query("q_training_order").builder(spark, sf_dir).collect(),
        key=lambda r: r["shard"],
    )
    assert [r["shard"] for r in rows] == list(range(1, SHARD_COUNT + 1))
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True), "big shards must come first"
    n = tables(spark, sf_dir).documents.count()
    assert sum(sizes) == n


def test_source_gini_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_source_gini", sf_dir)


def test_source_gini_bounds_and_python_agreement(spark, sf_dir):
    """Gini must be in [0, 1) and equal the textbook mean-absolute-
    difference computation in Python."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    row = get_query("q_source_gini").builder(spark, sf_dir).first()
    counts = sorted(
        r.x
        for r in tables(spark, sf_dir)
        .documents.groupBy("source")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    n, tot = len(counts), sum(counts)
    want_num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(counts))
    assert row.n_sources == n and row.total_docs == tot
    assert row.gini_num == want_num and row.gini_den == n * tot
    assert 0 <= row.gini < 1
    assert row.gini == want_num / (n * tot)


def test_unigram_logprob_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_unigram_logprob", sf_dir)


def test_unigram_logprob_scores_rare_tokens_lower(spark, tmp_path):
    """A document made of corpus-rare tokens must score strictly
    below one made of the dominant token, and the keep flag must be
    the integer-domain comparison (no float boundary)."""
    from mapreduceapp_spark.plans.registry import get_query

    rows = [(i, "common " * 50) for i in range(20)]
    rows.append((100, "rareword otherrare thirdrare"))
    sf = str(tmp_path / "uni")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {
        r["doc_id"]: r
        for r in get_query("q_unigram_logprob").builder(spark, sf).collect()
    }
    assert out[100]["avg_lp"] < out[0]["avg_lp"]
    assert out[0]["keep"] == 1  # dominant token ⇒ near-zero logprob
    assert out[100]["keep"] == 0  # three singleton tokens of ~1000
    assert out[100]["n_toks"] == 3


def test_duplicate_passages_law(spark, sf_dir):
    """Every emitted pair must actually share >= PASSAGE_MIN_SHARED
    distinct 16-token windows, verified in plain Python on the raw
    texts; and the fixture must make the check non-vacuous."""
    from mapreduceapp_spark.operators.llmprep import (
        PASSAGE_MIN_SHARED,
        PASSAGE_NGRAM,
    )
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import load_table
    import re

    rows = get_query("q_duplicate_passages").builder(spark, sf_dir).collect()
    assert len(rows) > 0, "fixture should contain verbatim passage overlap"
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def windows(t: str) -> set[str]:
        w = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
        return {
            " ".join(w[i : i + PASSAGE_NGRAM])
            for i in range(len(w) - PASSAGE_NGRAM + 1)
        }

    for r in rows[:50]:
        shared = windows(texts[r.doc_a]) & windows(texts[r.doc_b])
        assert len(shared) == r.shared_windows >= PASSAGE_MIN_SHARED


def test_passage_df_cap_headroom(spark, sf_dir):
    """PASSAGE_DF_CAP must never bind at oracle/bench scales (so the
    hash check stays exact): assert ≥4× headroom on the measured max
    window df, the LSH_BUCKET_CAP discipline."""
    from mapreduceapp_spark.functions.text import tokens_sql
    from mapreduceapp_spark.operators.llmprep import (
        PASSAGE_DF_CAP,
        PASSAGE_NGRAM,
        word_grams_sql,
    )
    from mapreduceapp_spark.sources import tables
    from pyspark.sql import functions as F

    max_df = (
        tables(spark, sf_dir)
        .documents.selectExpr("doc_id", f"{tokens_sql('text')} AS w")
        .selectExpr(
            "doc_id", f"explode({word_grams_sql('w', PASSAGE_NGRAM)}) AS g"
        )
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("m"))
        .first()["m"]
    )
    assert max_df * 4 <= PASSAGE_DF_CAP, (
        f"max window df {max_df} within 4x of cap {PASSAGE_DF_CAP}; "
        "raise the cap or re-measure before trusting the oracle"
    )


def test_passage_df_cap_drops_planted_boilerplate(spark, tmp_path):
    """With a planted tiny cap, a window shared by every doc
    (boilerplate) must stop generating pairs, while a genuine
    two-doc verbatim passage (df=2, under the cap) must survive."""
    from mapreduceapp_spark.operators.llmprep import (
        duplicate_passage_pairs,
    )

    boiler = " ".join(f"bp{i}" for i in range(16))  # one shared window
    passage = " ".join(f"uniq{i}" for i in range(21))  # 6 shared windows
    rows = [(i, f"{boiler} doc{i}only filler{i}") for i in range(10)]
    rows += [(100, f"{passage} tail100"), (101, f"{passage} tail101")]
    sf = str(tmp_path / "pass")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    capped = duplicate_passage_pairs(
        spark, sf, cap=4, min_shared=1
    ).collect()
    # only the true passage pair survives; the df=10 boilerplate
    # window generated none of its 45 cross-boilerplate pairs
    assert [(r.doc_a, r.doc_b, r.shared_windows) for r in capped] == [
        (100, 101, 6)
    ]
    uncapped = duplicate_passage_pairs(
        spark, sf, cap=10_000, min_shared=1
    ).collect()
    # sanity: without the cap the boilerplate window pairs everything
    assert len(uncapped) == (10 * 9) // 2 + 1


def test_zipf_fit_matches_python_ols(spark, sf_dir):
    """The grid-snapped OLS must agree with a plain-Python fit on the
    same snapped points to the emitted 1e-4 precision, and the slope
    must be negative (frequency falls with rank)."""
    from mapreduceapp_spark.operators.llmprep import ZIPF_MICRO, ZIPF_TOP_K
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables
    import math
    import re

    from pyspark.sql import functions as F

    row = get_query("q_zipf_fit").builder(spark, sf_dir).first()
    counts = (
        tables(spark, sf_dir)
        .documents.select(F.explode_outer(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    top = sorted(((-r.cnt, r.w) for r in counts))[:ZIPF_TOP_K]
    pts = [
        (
            round(math.log(i + 1) * ZIPF_MICRO),
            round(math.log(-negc) * ZIPF_MICRO),
        )
        for i, (negc, _w) in enumerate(top)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    assert row.n_ranked == n
    assert row.slope < 0
    assert abs(row.slope - num / den) <= 1e-4
    b = (sy * den - num * sx) / (n * den * ZIPF_MICRO)
    assert abs(row.intercept - b) <= 1e-4
