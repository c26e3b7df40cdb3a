"""Curation operators: hash splitting + sequence packing
(operators/curation.py)."""

from __future__ import annotations

from tests.oracle import assert_matches_oracle


def test_sample_split_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_sample_split", sf_dir)


def test_sample_split_is_stable_and_sane(spark, sf_dir):
    """Split assignment is a pure function of doc_id (identical across
    runs/partitionings), covers every doc exactly once, and the
    fractions land near 80/10/10."""
    from mapreduceapp_spark.plans.registry import get_query

    q = get_query("q_sample_split").builder
    a = {r["doc_id"]: r["split"] for r in q(spark, sf_dir).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in q(spark, sf_dir).repartition(7).collect()
    }
    assert a == b, "split must be invariant under repartitioning"
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.7 * n <= train <= 0.9 * n, f"train fraction {train/n:.2f}"
    assert set(a.values()) == {"train", "val", "test"}


def test_sample_split_ablation_independent_of_split(spark, sf_dir):
    """The salted ablation hash must not correlate with the split
    hash: ablation docs appear in every split."""
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_sample_split").builder(spark, sf_dir).collect()
    ablation_splits = {r["split"] for r in rows if r["in_ablation"] == 1}
    assert ablation_splits == {"train", "val", "test"}


def test_pack_sequences_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_pack_sequences", sf_dir)


def test_pack_sequences_bins_fill_to_budget(spark, sf_dir):
    """Concat-and-chunk invariant: within a shard, every bin except
    the last starts exactly where the previous ended, so each
    non-final bin's token total is >= the budget minus its last
    (straddling) doc — i.e. bins are actually packed, not sparse."""
    from collections import defaultdict

    from mapreduceapp_spark.operators.curation import PACK_BUDGET
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_pack_sequences").builder(spark, sf_dir).collect()
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r)
    assert by_shard
    for shard, bins in by_shard.items():
        bins.sort(key=lambda r: r["bin"])
        ids = [r["bin"] for r in bins]
        assert ids == list(range(len(ids))), f"shard {shard}: bins not dense"
        # cumulative starting offset of bin i is exactly i*PACK_BUDGET
        # plus however far the straddler ran over — so all docs up to
        # bin i hold at least i*PACK_BUDGET tokens
        cum = 0
        for r in bins[:-1]:
            cum += r["bin_tokens"]
            assert cum >= (r["bin"] + 1) * PACK_BUDGET, (
                f"shard {shard} bin {r['bin']} underfilled: {cum}"
            )


def test_curation_pipeline_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_curation_pipeline", sf_dir)


def test_curation_pipeline_conserves_docs(spark, sf_dir):
    """Stage accounting: pipeline output doc count == quality
    survivors minus near-dup drops (no doc lost or double-counted by
    the composition)."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.text import token_count_sql
    from mapreduceapp_spark.operators.curation import MIN_TOKENS
    from mapreduceapp_spark.operators.dedup import q_minhash_neardup
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    out = get_query("q_curation_pipeline").builder(spark, sf_dir).collect()
    n_out = sum(r["n_docs"] for r in out)

    docs = tables(spark, sf_dir).documents.select(
        "doc_id", F.expr(token_count_sql("text")).alias("ntok")
    )
    survivors = {
        r["doc_id"] for r in docs.filter(F.col("ntok") >= MIN_TOKENS).collect()
    }
    pairs = q_minhash_neardup(spark, sf_dir).select("doc_a", "doc_b").collect()
    dropped = {
        p["doc_b"]
        for p in pairs
        if p["doc_a"] in survivors and p["doc_b"] in survivors
    }
    assert n_out == len(survivors) - len(dropped) > 0


def test_stratified_sample_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_stratified_sample", sf_dir)


def test_stratified_sample_exact_k_and_stable(spark, sf_dir):
    """Exactly min(k, stratum size) rows per lang; identical sample
    under repartitioning (pure function of the data)."""
    from collections import Counter

    from mapreduceapp_spark.operators.curation import SAMPLE_K
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    q = get_query("q_stratified_sample").builder
    rows = q(spark, sf_dir).collect()
    per_lang = Counter(r["lang"] for r in rows)
    sizes = Counter(
        r["lang"]
        for r in tables(spark, sf_dir).documents.select("lang").collect()
    )
    for lang, n in per_lang.items():
        assert n == min(SAMPLE_K, sizes[lang])
    again = {(r["lang"], r["doc_id"]) for r in q(spark, sf_dir).repartition(5).collect()}
    assert again == {(r["lang"], r["doc_id"]) for r in rows}


def test_temperature_resample_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_temperature_resample", sf_dir)


def test_temperature_resample_rebalances_toward_uniform(spark, sf_dir):
    """The α=0.5 law: per-source kept counts hit the integer target
    formula exactly, the budget is respected, and kept FRACTIONS are
    anti-monotone in source size (a strictly smaller source never
    keeps a smaller fraction than a strictly larger one — the whole
    point of temperature < 1)."""
    import math

    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.operators.curation import (
        TEMP_BUDGET_DEN,
        TEMP_WEIGHT_MICRO,
    )
    from mapreduceapp_spark.sources import tables

    rows = get_query("q_temperature_resample").builder(spark, sf_dir).collect()
    kept: dict[str, int] = {}
    meta: dict[str, tuple[int, int]] = {}
    for r in rows:
        kept[r.source] = kept.get(r.source, 0) + 1
        meta[r.source] = (r.n_source, r.target_k)

    # derive counts independently (plain groupBy)
    from pyspark.sql import functions as F

    cnts = {
        r["source"]: r["cnt"]
        for r in tables(spark, sf_dir)
        .documents.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_total = sum(cnts.values())
    w = {s: math.floor(math.sqrt(c) * TEMP_WEIGHT_MICRO) for s, c in cnts.items()}
    w_total = sum(w.values())
    budget = n_total // TEMP_BUDGET_DEN
    for s, c in cnts.items():
        want = min(c, budget * w[s] // w_total)
        if want == 0:
            assert s not in kept
            continue
        assert kept[s] == want, (s, kept[s], want)
        assert meta[s] == (c, want)
    assert sum(kept.values()) <= budget
    sources = sorted(cnts, key=cnts.get)
    fracs = [kept.get(s, 0) / cnts[s] for s in sources]
    for a, b in zip(fracs, fracs[1:]):
        assert a >= b - 1e-12, (fracs, sources)


def test_chunk_documents_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_chunk_documents", sf_dir)


def test_chunk_documents_covers_and_overlaps(spark, sf_dir):
    """Every token position must be covered; consecutive chunks of a
    doc overlap by exactly CHUNK_SIZE - CHUNK_STRIDE tokens except
    possibly the last (truncated) one."""
    from mapreduceapp_spark.operators.curation import CHUNK_SIZE, CHUNK_STRIDE
    from mapreduceapp_spark.functions.text import token_count_sql
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    rows = get_query("q_chunk_documents").builder(spark, sf_dir).collect()
    ntok = {
        r.doc_id: r.n
        for r in tables(spark, sf_dir)
        .documents.selectExpr("doc_id", f"{token_count_sql('text')} AS n")
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            start = c.chunk_idx * CHUNK_STRIDE
            assert c.n_chunk_tokens == min(CHUNK_SIZE, ntok[doc_id] - start)
        # full coverage: the last chunk reaches the final token
        last_start = chunks[-1].chunk_idx * CHUNK_STRIDE
        assert last_start + chunks[-1].n_chunk_tokens == ntok[doc_id]
        assert last_start < ntok[doc_id] <= last_start + CHUNK_STRIDE or len(
            chunks
        ) * CHUNK_STRIDE >= ntok[doc_id]


def test_chunk_documents_is_map_only(spark, sf_dir):
    """Chunking must not shuffle — the token array lives and dies
    inside one projection + generator."""
    import re

    from mapreduceapp_spark.plans.registry import get_query

    plan = (
        get_query("q_chunk_documents")
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange (hash|range)", plan)) == 0


def test_length_trim_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_length_trim", sf_dir)


def test_length_trim_cuts_are_order_statistics(spark, sf_dir):
    """Every kept doc sits inside its language's [p05, p95] rank cuts,
    and the cuts are actual observed values of that language."""
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    rows = get_query("q_length_trim").builder(spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in tables(spark, sf_dir).documents.select("lang", "n_chars").collect():
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    for r in rows:
        vals = by_lang[r["lang"]]
        assert r["lo_cut"] in vals and r["hi_cut"] in vals
        assert r["lo_cut"] <= r["n_chars"] <= r["hi_cut"]
    # something must actually be trimmed per language with >= 20 docs
    kept = {}
    for r in rows:
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    for lang, vals in by_lang.items():
        if len(vals) >= 20:
            assert kept.get(lang, 0) < len(vals)


def test_pii_scrub_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_pii_scrub", sf_dir)


def test_pii_scrub_redacts_planted_pii(spark, tmp_path):
    """The synthetic corpus is PII-free (the oracle row checks the
    identity path), so the positive path is pinned here: planted
    emails and phone-like digit runs must be counted and redacted,
    and clean text must pass through byte-identical."""
    import hashlib

    from mapreduceapp_spark.plans.registry import get_query

    rows = [
        (1, "contact Jan.Doe+spam@example-mail.co.uk or call +49 170 1234567 now"),
        (2, "two mails a@b.io c@d.org; phone 030-1234-5678 and 0123456789"),
        (3, "no pii here, just text with numbers 42 and 7"),
    ]
    sf = str(tmp_path / "pii")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {
        r["doc_id"]: r
        for r in get_query("q_pii_scrub").builder(spark, sf).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (2, 2)
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (0, 0)
    # doc 3 is untouched: hash equals sha256 of the original text
    assert out[3]["clean_hash"] == hashlib.sha256(rows[2][1].encode()).hexdigest()
    assert out[3]["clean_len"] == len(rows[2][1])
    # doc 1's redaction is exactly the token substitution
    expect1 = "contact <EMAIL> or call <PHONE> now"
    assert out[1]["clean_hash"] == hashlib.sha256(expect1.encode()).hexdigest()
    assert out[1]["clean_len"] == len(expect1)
