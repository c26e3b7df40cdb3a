"""Dedup family (SURVEY.md §2.C): exact, Jaccard, MinHash-LSH, SimHash."""

from __future__ import annotations

import itertools

from tests.oracle import assert_matches_oracle


def test_exact_dedup_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_exact_dedup", sf_dir)


def test_ngram_jaccard_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_ngram_jaccard", sf_dir)


def test_minhash_equals_exact_jaccard(spark, sf_dir):
    """LSH candidates + exact verification must reproduce the exact
    pair set (the corpus's pair distribution is bimodal, so LSH
    recall at the threshold is ~1 — see module constants)."""
    from mapreduceapp_spark.plans.registry import get_query

    exact = {
        tuple(r)
        for r in get_query("q_ngram_jaccard").builder(spark, sf_dir).collect()
    }
    lsh = {
        tuple(r)
        for r in get_query("q_minhash_neardup").builder(spark, sf_dir).collect()
    }
    assert exact == lsh
    assert len(exact) > 0, "fixture should contain planted near-duplicates"


def test_incremental_dedup_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_incremental_dedup", sf_dir)


def test_incremental_dedup_is_cross_split_slice_of_full(spark, sf_dir):
    """The batch-vs-corpus query must equal the full all-pairs query
    restricted to cross-split pairs, re-keyed (corpus_doc, new_doc) —
    and both sides of every emitted pair must sit on opposite sides
    of the split."""
    from mapreduceapp_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_RESIDUE,
    )
    from mapreduceapp_spark.plans.registry import get_query

    def is_new(doc_id: int) -> bool:
        return doc_id % INCR_BATCH_MOD >= INCR_BATCH_RESIDUE

    full = get_query("q_minhash_neardup").builder(spark, sf_dir).collect()
    expected = {
        (
            (r.doc_a, r.doc_b) if is_new(r.doc_b) else (r.doc_b, r.doc_a)
        )
        + (r.inter, r.uni, r.jac)
        for r in full
        if is_new(r.doc_a) != is_new(r.doc_b)
    }
    got = {
        (r.corpus_doc, r.new_doc, r.inter, r.uni, r.jac)
        for r in get_query("q_incremental_dedup").builder(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) > 0, "fixture should contain cross-split near-dups"
    assert all(not is_new(c) and is_new(n) for c, n, *_ in got)


def test_simhash_banded_join_equals_brute_force(spark, sf_dir):
    """The pigeonhole band join is an exact strategy, not an
    approximation: it must find precisely the hamming ≤ 3 pairs."""
    from mapreduceapp_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        _simhash,
        q_simhash_neardup,
    )
    from mapreduceapp_spark.functions.text import tokens_sql
    from mapreduceapp_spark.sources import tables
    from pyspark.sql import functions as F

    d = tables(spark, sf_dir).documents
    doc_tokens = (
        d.selectExpr("doc_id", f"explode({tokens_sql('text')}) AS tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    fps = {r["doc_id"]: r["simhash"] for r in _simhash(doc_tokens).collect()}
    def hamming(a: int, b: int) -> int:
        # mask to 64 bits: Spark longs are two's-complement, Python
        # ints are arbitrary precision (negative xor ⇒ wrong popcount)
        return bin((a ^ b) & (2**64 - 1)).count("1")

    brute = {
        (a, b, hamming(fps[a], fps[b]))
        for a, b in itertools.combinations(sorted(fps), 2)
        if hamming(fps[a], fps[b]) <= SIMHASH_MAX_HAMMING
    }
    banded = {tuple(r) for r in q_simhash_neardup(spark, sf_dir).collect()}
    assert banded == brute


def test_dedup_clusters_oracle(spark, sf_dir):
    """Connected components (iterative min-label propagation) must
    match DuckDB's recursive-CTE fixpoint over the same edge set."""
    assert_matches_oracle(spark, "q_dedup_clusters", sf_dir)


def test_dedup_survivors_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_dedup_survivors", sf_dir)


def test_dedup_survivors_partition_the_corpus(spark, sf_dir):
    """Survivors + displaced duplicates must exactly tile the corpus:
    sum(n_dups) + |survivors| == |documents|, every survivor is its
    own cluster minimum, and no displaced doc survives."""
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    surv = {
        r["doc_id"]: r["n_dups"]
        for r in get_query("q_dedup_survivors").builder(spark, sf_dir).collect()
    }
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in get_query("q_dedup_clusters").builder(spark, sf_dir).collect()
    }
    n_docs = tables(spark, sf_dir).documents.count()
    assert len(surv) + sum(surv.values()) == n_docs
    displaced = {d for d, c in clusters.items() if d != c}
    assert displaced.isdisjoint(surv)
    assert {d for d, c in clusters.items() if d == c} <= set(surv)
    assert any(n > 0 for n in surv.values())  # corpus really has dups


def test_dedup_clusters_are_closed(spark, sf_dir):
    """Every near-dup pair must land in the same cluster, and labels
    must be the component minimum (canonical doc)."""
    from mapreduceapp_spark.plans.registry import get_query

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in get_query("q_dedup_clusters").builder(spark, sf_dir).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in get_query("q_minhash_neardup").builder(spark, sf_dir).collect()
    ]
    assert pairs, "fixture should contain planted near-duplicates"
    for a, b in pairs:
        assert labels[a] == labels[b]
    # label is the min member of its cluster
    members: dict[int, list[int]] = {}
    for doc, c in labels.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs)


def test_dedup_clusters_local_equals_fixpoint(spark, sf_dir, monkeypatch):
    """r17 regime gate, pinned both ways: the driver union-find
    (small-graph regime, default at fixture scale) and the distributed
    min-label fixpoint (forced by pinning the gate to -1) must produce
    identical (doc_id, cluster_id) sets."""
    from mapreduceapp_spark.operators import dedup
    from mapreduceapp_spark.plans.registry import get_query

    dedup._CLUSTERS_MEMO.clear()
    local = {
        (r["doc_id"], r["cluster_id"])
        for r in get_query("q_dedup_clusters").builder(spark, sf_dir).collect()
    }
    dedup._CLUSTERS_MEMO.clear()
    monkeypatch.setattr(dedup, "CLUSTERS_LOCAL_MAX_PAIRS", -1)
    dist = {
        (r["doc_id"], r["cluster_id"])
        for r in get_query("q_dedup_clusters").builder(spark, sf_dir).collect()
    }
    dedup._CLUSTERS_MEMO.clear()
    assert local and local == dist


def test_dup_degree_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_dup_degree", sf_dir)


def test_dup_degree_across_scale_factors_in_one_process(spark, sf_dir):
    """Regression: recycled stage-slot paths once returned the
    PREVIOUS scale factor's pairs when two sf_dirs ran in one process
    (plan hashes collided through the shared slot path). Running the
    degree query on both fixtures back-to-back must match each
    fixture's own oracle."""
    from tests.conftest import SF_DIR_MID

    assert_matches_oracle(spark, "q_dup_degree", sf_dir)
    assert_matches_oracle(spark, "q_dup_degree", SF_DIR_MID)
    assert_matches_oracle(spark, "q_dup_degree", sf_dir)


def test_minhash_bucket_cap_bounds_dense_buckets(spark):
    """Planted dense bucket (VERDICT r5 ask #2): a bucket above the
    cap must contribute ZERO candidate pairs (its rows never reach
    the pair expansion), while at-or-under-cap buckets are untouched.
    30 docs share one signature (one over-cap bucket per band at
    cap=8); 4 docs share another (under-cap, kept)."""
    from mapreduceapp_spark.operators.dedup import minhash_candidates

    rows = [(i, ["aa"], [7] * 64) for i in range(30)] + [
        (100 + i, ["bb"], [9] * 64) for i in range(4)
    ]
    sh = spark.createDataFrame(
        rows, "doc_id bigint, sh array<string>, sig array<bigint>"
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(sh, cap=8).collect()
    }
    assert capped == {
        (100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)
    }
    # with the cap lifted the dense bucket's 435 pairs come back —
    # once per band (identical signatures collide in all 16; the
    # generator defers dedup to the consumer's post-prefilter
    # distinct, see minhash_candidates)
    assert minhash_candidates(sh, cap=10_000).count() == 16 * (30 * 29 // 2 + 6)
    assert (
        minhash_candidates(sh, cap=10_000).distinct().count() == 30 * 29 // 2 + 6
    )


def test_simhash_bucket_cap_bounds_dense_buckets(spark):
    """Same planting for the SimHash pigeonhole join: an over-cap
    (band, bits) bucket is dropped from BOTH join sides."""
    from mapreduceapp_spark.operators.dedup import simhash_candidates

    fp = spark.createDataFrame(
        [(i, 0x0F0F0F0F0F0F0F0) for i in range(30)]
        + [(100 + i, 0x123456789ABCDE0) for i in range(4)],
        "doc_id bigint, simhash bigint",
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_candidates(fp, cap=8).collect()
    }
    assert capped == {
        (100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)
    }
    # once per agreeing band (identical fingerprints agree on all 4)
    assert simhash_candidates(fp, cap=10_000).count() == 4 * (30 * 29 // 2 + 6)
    assert (
        simhash_candidates(fp, cap=10_000).distinct().count() == 30 * 29 // 2 + 6
    )


def test_bucket_cap_never_binds_at_oracle_scale(spark):
    """The cap must be invisible at the scales the driver hash-checks
    (sf0.01) — zero skipped buckets/pairs under the default cap, with
    real headroom so data drift can't silently flip the oracle."""
    from mapreduceapp_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        minhash_band_stats,
        simhash_band_stats,
    )
    from tests.conftest import SF_DIR_MID

    for stats in (minhash_band_stats, simhash_band_stats):
        row = stats(spark, SF_DIR_MID).collect()[0]
        assert row["n_over_cap"] == 0 and row["skipped_pairs"] == 0
        assert row["max_bucket"] * 4 <= LSH_BUCKET_CAP, (
            "cap headroom under 4x — re-measure before trusting the oracle"
        )


def test_shingle_df_cap_never_binds_at_oracle_scale(spark, sf_dir):
    """The df cap (VERDICT r6 ask #3) must be invisible at the scales
    the driver hash-checks: empty drop-set with ≥4x headroom between
    the measured max df and the cap, so data drift can't silently
    change signatures under the shared exact-Jaccard oracle."""
    from mapreduceapp_spark.operators.dedup import (
        SHINGLE_DF_CAP,
        high_df_shingles,
        shingle_df_stats,
    )
    from tests.conftest import SF_DIR_MID

    for d in (sf_dir, SF_DIR_MID):
        row = shingle_df_stats(spark, d).collect()[0]
        assert row["n_over_cap"] == 0
        assert row["max_df"] * 4 <= SHINGLE_DF_CAP, (
            "df-cap headroom under 4x — re-measure before trusting the oracle"
        )
        assert high_df_shingles(spark, d) == frozenset()


def test_shingle_df_cap_drops_planted_ubiquitous_shingle(spark, tmp_path):
    """Planted stopword shingle: a shingle above the df cap must leave
    the SIGNATURES (unrelated docs sharing only it stop colliding in
    any band), while true near-dups — similar in their discriminating
    shingles too — still collide and verify. The ``sh`` column keeps
    the full set, and an all-stopword document falls back to its full
    set instead of an undefined empty-set signature."""
    from mapreduceapp_spark.operators.dedup import (
        _doc_shingles_with_minhash,
        high_df_shingles,
        minhash_candidates,
    )

    common = "zqxwv"  # one 5-char token == one ubiquitous 5-gram
    rows = []
    # 60 unrelated docs: the planted shingle plus a per-doc unique tail
    for i in range(60):
        rows.append((i, f"{common} unique{i:04d}tail{i:04d}"))
    # one true near-dup pair: long shared discriminating text
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows.append((1000, f"{common} {dup}"))
    rows.append((1001, f"{common} {dup}!"))
    # an all-stopword doc: nothing but the planted shingle
    rows.append((2000, common))
    sf = str(tmp_path / "dfcap")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )

    import mapreduceapp_spark.operators.dedup as dd

    orig = dd.SHINGLE_DF_CAP
    dd.SHINGLE_DF_CAP = 30  # bind on the 63-doc shingle only
    try:
        drop = high_df_shingles(spark, sf, cap=30)
        assert common in drop and len(drop) >= 1
        sh = _doc_shingles_with_minhash(spark, sf)
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidates(sh).distinct().collect()
        }
        # the true near-dup pair still becomes a candidate
        assert (1000, 1001) in pairs
        # no candidate pair exists between the 60 unrelated docs: their
        # only overlap was the dropped stopword shingle
        assert not any(a < 60 and b < 60 for a, b in pairs)
        # full shingle sets are untouched; the all-stopword doc keeps a
        # well-defined signature (full-set fallback)
        rows2 = {r["doc_id"]: r for r in sh.collect()}
        assert common in rows2[0]["sh"]
        assert len(rows2[2000]["sig"]) == 64
        # signature-time diagnostics (ADVICE r7): every doc lost at
        # least the planted shingle; only the all-stopword doc fell
        # below SHINGLE_MIN_KEPT and reverted to its full set
        stats = dd.minhash_signature_stats(spark, sf).collect()[0]
        assert stats["n_docs"] == 63
        assert stats["n_docs_capped"] == 63
        assert stats["n_docs_fallback"] == 1
        assert stats["max_dropped"] >= 1
    finally:
        dd.SHINGLE_DF_CAP = orig


def test_shingle_min_kept_fallback_widens_past_empty(spark, tmp_path):
    """A doc whose capped set is tiny-but-nonempty (below
    SHINGLE_MIN_KEPT) must ALSO revert to its full shingle set
    (ADVICE r7 — the empty-only fallback left near-boundary docs
    with signatures built from 1-2 surviving shingles), and its
    signature must therefore equal the one computed with no cap."""
    import mapreduceapp_spark.operators.dedup as dd

    import hashlib

    common = "zqxwv"
    # filler tails are per-doc hex hashes, so each filler doc keeps
    # ~28 discriminating shingles after the cap — well above the floor
    rows = [
        (i, f"{common} " + hashlib.sha256(str(i).encode()).hexdigest()[:30])
        for i in range(40)
    ]
    # the boundary doc: the stopword run plus ONE discriminating char
    # => a handful of shingles, only ~2 survive the cap
    rows.append((900, f"{common}{common}Q"))
    sf = str(tmp_path / "minkept")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    orig = dd.SHINGLE_DF_CAP
    dd.SHINGLE_DF_CAP = 30
    try:
        drop = dd.high_df_shingles(spark, sf, cap=30)
        assert common in drop
        sig_capped = {
            r["doc_id"]: list(r["sig"])
            for r in dd._doc_shingles_with_minhash(spark, sf).collect()
        }
        stats = dd.minhash_signature_stats(spark, sf).collect()[0]
        assert stats["n_docs_fallback"] >= 1
    finally:
        dd.SHINGLE_DF_CAP = orig
        dd._SHINGLE_DROPSET_MEMO.clear()
    # uncapped signatures for comparison: same corpus, cap high
    # enough that the drop-set is empty
    sig_full = {
        r["doc_id"]: list(r["sig"])
        for r in dd._doc_shingles_with_minhash(spark, sf).collect()
    }
    dd._SHINGLE_DROPSET_MEMO.clear()
    # the fallback doc's signature is the FULL-set signature
    assert sig_capped[900] == sig_full[900]
    # a doc with plenty of surviving shingles is NOT reverted: its
    # capped signature differs from the full-set one
    assert any(sig_capped[i] != sig_full[i] for i in range(40))


def test_dedup_clusters_memoized_per_session(spark, sf_dir):
    """The converged-label memo must return the same DataFrame object
    for a repeat call in one session (the fixpoint never re-runs)."""
    from mapreduceapp_spark.plans.registry import get_query

    b = get_query("q_dedup_clusters").builder
    assert b(spark, sf_dir) is b(spark, sf_dir)


def test_containment_prefix_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_containment_prefix", sf_dir)


def test_containment_prefix_equals_exact(spark, sf_dir):
    """Prefix filtering is exact by proof; pin it by measurement too:
    the prefix-filtered query must emit exactly the full posting-list
    self-join's pair set."""
    from mapreduceapp_spark.plans.registry import get_query

    exact = {
        tuple(r) for r in get_query("q_containment").builder(spark, sf_dir).collect()
    }
    pref = {
        tuple(r)
        for r in get_query("q_containment_prefix").builder(spark, sf_dir).collect()
    }
    assert pref == exact
    assert len(pref) > 0, "fixture should contain containment pairs"


def test_containment_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_containment", sf_dir)


def test_containment_superset_of_jaccard(spark, sf_dir):
    """cont = inter/min ≥ inter/union = jaccard, so every Jaccard-0.9+
    pair must also appear in the containment output (thresholds 0.9
    vs 0.8 differ — compare on the common pairs)."""
    from mapreduceapp_spark.plans.registry import get_query

    cont = {
        (r["doc_a"], r["doc_b"]): r["cont"]
        for r in get_query("q_containment").builder(spark, sf_dir).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"]): r["jac"]
        for r in get_query("q_ngram_jaccard").builder(spark, sf_dir).collect()
    }
    assert cont
    for pair, j in jac.items():
        if j >= 0.9:
            assert pair in cont and cont[pair] >= j


def test_dup_rate_by_source_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_dup_rate_by_source", sf_dir)


def test_dup_rate_by_source_counts_all_pairs(spark, sf_dir):
    """The per-source-pair counts must tile the pair set exactly."""
    from mapreduceapp_spark.plans.registry import get_query

    per_src = get_query("q_dup_rate_by_source").builder(spark, sf_dir).collect()
    n_pairs = get_query("q_minhash_neardup").builder(spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in per_src) == n_pairs
    assert all(r["source_a"] <= r["source_b"] for r in per_src)


def test_minhash_chain_prefilter_and_verify_boundaries(spark):
    """The shared chain's two cuts, on planted rows and for both pair
    shapes, so the self-join, the batch-vs-corpus query, the band-index
    probe and the streaming probe are all pinned: signature agreement
    of exactly MINHASH_PERMS // 2 is kept and one less is dropped;
    shingle sets with Jaccard exactly 4/5 are kept and 399/500 is
    dropped; jac equals _int_round4(inter, uni)."""
    from mapreduceapp_spark.operators.dedup import (
        CROSS_PAIR,
        MINHASH_PERMS,
        SELF_PAIR,
        _int_round4,
        _jaccard_verify,
        _sig_prefilter,
    )

    half = MINHASH_PERMS // 2
    base = list(range(MINHASH_PERMS))

    def agreeing(n):  # equals ``base`` at exactly n positions
        return base[:n] + [-1 - i for i in range(MINHASH_PERMS - n)]

    def shingles(n, tag=""):
        return [f"{tag}{i:05d}" for i in range(n)]

    for pair in (SELF_PAIR, CROSS_PAIR):
        ka, kb, a, b = pair
        sigs = spark.createDataFrame(
            [(1, 2, base, agreeing(half)), (3, 4, base, agreeing(half - 1))],
            f"{ka} bigint, {kb} bigint, sig_{a} array<bigint>, sig_{b} array<bigint>",
        )
        kept = {
            (r[ka], r[kb], r["sig_agree"])
            for r in _sig_prefilter(sigs, pair).collect()
        }
        assert kept == {(1, 2, half)}, pair

        sets = spark.createDataFrame(
            [
                (1, 2, shingles(4), shingles(5)),  # 4/5: kept
                (3, 4, shingles(399), shingles(399) + shingles(101, "x")),
                (5, 6, shingles(10), shingles(9) + shingles(2, "y")),  # 9/12
                (7, 8, shingles(9), shingles(9) + shingles(2, "z")),  # 9/11
            ],
            f"{ka} bigint, {kb} bigint, sh_{a} array<string>, sh_{b} array<string>",
        )
        got = {tuple(r) for r in _jaccard_verify(sets, pair).collect()}
        want = {
            (k1, k2, i, u, (2 * i * 10_000 + u) // (2 * u) / 10_000.0)
            for k1, k2, i, u in ((1, 2, 4, 5), (7, 8, 9, 11))
        }
        assert got == want, pair
        rounded = spark.createDataFrame(
            [(i, u) for _, _, i, u, _ in want], "inter bigint, uni bigint"
        ).select("inter", "uni", _int_round4("inter", "uni").alias("jac"))
        assert {tuple(r) for r in rounded.collect()} == {
            (i, u, j) for _, _, i, u, j in got
        }
