"""Property-based tests (hypothesis) — SURVEY.md §5.2 item 3.

These pin the *laws* of the MapReduce contract the reference declares
(``MapReduceClient.h:61-64``) and sometimes violates (SURVEY.md §8
Q3: its shuffle can split a key group). Spark's groupBy must satisfy
them for arbitrary inputs, not just the driver fixtures:

- every key appears in exactly one output group;
- sum of group aggregates equals the global aggregate;
- inner-join cardinality is the sum over keys of |L_k|·|R_k|;
- the char-count flagship agrees with a trivial in-Python oracle.

Examples are kept small and the deadline disabled: each example is a
full Spark job, so the value is in the random *structure* (duplicate
keys, empty strings, unicode, negatives), not in thousands of cases.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
import pytest

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=-5, max_value=5)
vals = st.integers(min_value=-(10**9), max_value=10**9)
rows = st.lists(st.tuples(keys, vals), min_size=1, max_size=60)


@given(data=rows)
@SETTINGS
def test_complete_groups_and_sum_law(spark, data):
    """Each key → exactly one group; group sums total to global sum
    (the law broken by the reference's descending-sort shuffle, Q3)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(data, "k int, v long")
    grouped = df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()
    seen_keys = [r["k"] for r in grouped]
    assert len(seen_keys) == len(set(seen_keys)), "key split across groups"
    assert set(seen_keys) == {k for k, _ in data}
    assert sum(r["s"] for r in grouped) == sum(v for _, v in data)
    assert sum(r["n"] for r in grouped) == len(data)


@given(left=rows, right=rows)
@SETTINGS
def test_inner_join_cardinality(spark, left, right):
    """|L ⋈ R| == Σ_k |L_k|·|R_k| — the repartition-join construction
    (SURVEY.md §2.B B7) must neither drop nor duplicate pairs."""
    ldf = spark.createDataFrame(left, "k int, lv long")
    rdf = spark.createDataFrame(right, "k int, rv long")
    lc, rc = Counter(k for k, _ in left), Counter(k for k, _ in right)
    expected = sum(n * rc.get(k, 0) for k, n in lc.items())
    assert ldf.join(rdf, "k").count() == expected


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=["L", "N", "P", "Zs"]
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
@SETTINGS
def test_charcount_matches_python_oracle(spark, texts):
    """The flagship query's semantics (reference SampleClient.cpp:32-66)
    on arbitrary unicode strings, against collections.Counter."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.text import chars_sql

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        r["c"]: r["cnt"]
        for r in df.selectExpr(f"explode({chars_sql('text')}) AS c")
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    want = Counter("".join(texts))
    assert got == {c: n for c, n in want.items()}


@given(s=st.text(max_size=60))
@SETTINGS
def test_fingerprint_matches_python_oracle(spark, s):
    """Rolling-hash fingerprint law: engine fold == reference fold in
    plain Python over codepoints."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.text import chars_sql
    from mapreduceapp_spark.operators.text import FP_BASE, FP_MOD

    df = spark.createDataFrame([(s,)], "text string")
    fp_col = F.aggregate(
        F.expr(chars_sql("text")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + F.ascii(c)) % FP_MOD,
    )
    got = df.select(fp_col.alias("fp")).collect()[0]["fp"]
    want = 0
    for ch in s:
        want = (want * FP_BASE + ord(ch)) % FP_MOD
    assert got == want


@given(ids=st.lists(st.integers(min_value=-(10**12), max_value=10**12),
                    min_size=1, max_size=40, unique=True))
@SETTINGS
def test_hash_bucket_law(spark, ids):
    """Split-assignment laws for arbitrary keys: bucket ∈ [0, 100),
    pure in the key (same key ⇒ same bucket, twice), and salted
    bucketings differ from unsalted ones somewhere on any non-trivial
    id set (independence smoke)."""
    from mapreduceapp_spark.operators.curation import hash_bucket_sql

    df = spark.createDataFrame([(i,) for i in ids], "k long")
    out = df.selectExpr(
        "k",
        f"{hash_bucket_sql('k')} AS b1",
        f"{hash_bucket_sql('k')} AS b2",
        f"{hash_bucket_sql('k', salt='s:')} AS bs",
    ).collect()
    for r in out:
        assert 0 <= r["b1"] < 100
        assert r["b1"] == r["b2"], "bucket must be pure in the key"
    if len(out) >= 20:
        assert any(r["b1"] != r["bs"] for r in out), (
            "salted bucketing identical to unsalted on 20+ keys"
        )


@given(toks=st.lists(st.integers(min_value=0, max_value=400),
                     min_size=1, max_size=50))
@SETTINGS
def test_pack_bins_monotone_law(spark, toks):
    """Packing law for arbitrary token sequences: bin ids are
    non-decreasing in doc order and each doc's bin equals its exact
    cumulative starting offset div budget."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    budget = 256
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, ntok long"
    )
    w = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn(
            "bin", F.floor((F.sum("ntok").over(w) - F.col("ntok")) / budget)
        )
        .orderBy("doc_id")
        .collect()
    )
    offset = 0
    prev_bin = 0
    for r in out:
        assert r["bin"] == offset // budget
        assert r["bin"] >= prev_bin
        prev_bin = r["bin"]
        offset += r["ntok"]


@given(
    words=st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4), max_size=12
    ),
    n=st.integers(min_value=2, max_value=8),
)
@SETTINGS
def test_word_grams_strategies_agree(spark, words, n):
    """word_grams_sql picks one of two codegen strategies by n
    (zip_with chain for n <= 3, arrays_zip single pass for n >= 4;
    n is drawn on both sides); both must equal the Python
    sliding-window definition on arbitrary token arrays — guarding
    the dual-strategy split at its semantic boundary."""
    from mapreduceapp_spark.operators.llmprep import word_grams_sql

    df = spark.createDataFrame([(words,)], "w array<string>")
    got = df.selectExpr(f"{word_grams_sql('w', n)} AS g").first()["g"]
    want = [
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    ] if len(words) >= n else []
    assert got == want


@given(
    entries=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # doc_id
            st.integers(min_value=0, max_value=5),   # band_key
        ),
        min_size=1,
        max_size=80,
        unique=True,
    ),
    cap=st.integers(min_value=1, max_value=10),
)
@SETTINGS
def test_bucket_cap_law(spark, entries, cap):
    """_capped_band_entries ≡ 'drop every row of any key whose group
    is larger than cap' — the spec, set-checked against a Python fold."""
    from mapreduceapp_spark.operators.dedup import _capped_band_entries

    df = spark.createDataFrame(entries, "doc_id bigint, band_key bigint")
    got = {
        (r["doc_id"], r["band_key"])
        for r in _capped_band_entries(df, ["band_key"], cap).collect()
    }
    sizes = Counter(k for _, k in entries)
    want = {(d, k) for d, k in entries if sizes[k] <= cap}
    assert got == want


@given(
    grays=st.lists(
        st.integers(min_value=0, max_value=255), min_size=1, max_size=6
    )
)
@SETTINGS
def test_jpeg_roundtrip_law(spark, grays):
    """decode(encode(blocks)) recovers exact dimensions and the exact
    image mean for any flat-block grayscale JPEG — the DC-only mean
    is the true mean because AC basis functions are zero-mean."""
    from mapreduceapp_spark.operators.multimodal import decode_media
    from tests.test_multimodal import _jpeg_bytes

    out = decode_media(_jpeg_bytes(grays), strict=True)
    assert out["decoder"] == "jpeg"
    assert (out["width"], out["height"]) == (8 * len(grays), 8)
    assert out["mean_byte"] == sum(grays) / len(grays)


@given(
    grays=st.lists(
        st.integers(min_value=0, max_value=255), min_size=1, max_size=10
    ),
    ri=st.integers(min_value=1, max_value=4),
)
@SETTINGS
def test_jpeg_restart_roundtrip_law(spark, grays, ri):
    """The restart-interval layout (DRI + RSTn every ri blocks,
    predictors reset) must decode to the identical exact mean for any
    gray sequence and any interval — including intervals that cycle
    the RSTn index past 7."""
    from mapreduceapp_spark.operators.multimodal import decode_media
    from tests.test_multimodal import _jpeg_bytes

    out = decode_media(_jpeg_bytes(grays, restart_interval=ri), strict=True)
    assert out["decoder"] == "jpeg"
    assert (out["width"], out["height"]) == (8 * len(grays), 8)
    assert out["mean_byte"] == sum(grays) / len(grays)


@given(
    grays=st.lists(
        st.integers(min_value=0, max_value=255), min_size=1, max_size=6
    ),
    refine=st.booleans(),
)
@SETTINGS
def test_jpeg_progressive_roundtrip_law(spark, grays, refine):
    """Progressive DC decode law: with the refinement scan the exact
    mean is recovered for ANY gray sequence (negative/odd/zero DC
    deltas included); without it, exactly the Al=1 point-transform
    preview — ((v>>1)<<1) per coefficient — is recovered."""
    from mapreduceapp_spark.operators.multimodal import decode_media
    from tests.test_multimodal import _jpeg_bytes_progressive

    out = decode_media(
        _jpeg_bytes_progressive(grays, refine=refine), strict=True
    )
    assert out["decoder"] == "jpeg"
    assert (out["width"], out["height"]) == (8 * len(grays), 8)
    if refine:
        want = [float(g) for g in grays]
    else:
        want = [(((g - 128) >> 1) << 1) + 128.0 for g in grays]
    assert out["mean_byte"] == sum(want) / len(want)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "xq"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_unigram_logprob_matches_python_oracle(spark, docs):
    """The micro-nat grid law, against an independent Python
    reference: avg_lp equals the pure-integer half-away-from-zero
    rounding of sum(round(ln(cnt/total)*1e6)) / n to 4 decimals,
    computed driver-side, for any small corpus — i.e. the
    distributed aggregation adds nothing float-order-dependent AND
    no engine's float rounding mode is involved (hypothesis found an
    exact .00005 tie where round()-based references diverge — the
    reason avg_lp is integer-derived; see UNIGRAM_LP_MICRO)."""
    import math

    from mapreduceapp_spark.plans.registry import get_query

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "overwrite"
        ).parquet(f"{td}/documents.parquet")
        got = {
            r["doc_id"]: (r["n_toks"], r["avg_lp"])
            for r in get_query("q_unigram_logprob")
            .builder(spark, td)
            .collect()
        }
    from collections import Counter

    cnt = Counter(w for words in docs for w in words)
    total = sum(cnt.values())
    lp = {w: round(math.log(c / total) * 1e6) for w, c in cnt.items()}
    for i, words in enumerate(docs):
        n = len(words)
        a = sum(lp[w] for w in words)
        b = n * 100  # micro-nats -> 1e-4 units
        r = (-((2 * -a + b) // (2 * b))) if a < 0 else ((2 * a + b) // (2 * b))
        want = r / 10000.0
        assert got[i] == (n, want), (i, got[i], (n, want))


@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=6)
)
@SETTINGS
def test_temperature_resample_target_law(spark, counts):
    """The α=0.5 integer target law, against an independent Python
    reference over arbitrary tiny corpora — exercising the edges the
    fixture can't: a single source, all-equal counts, 1-doc sources,
    and sources whose integer target truncates to 0 (which must then
    be absent from the output entirely)."""
    import math
    import tempfile

    from mapreduceapp_spark.operators.curation import (
        TEMP_BUDGET_DEN,
        TEMP_WEIGHT_MICRO,
    )
    from mapreduceapp_spark.plans.registry import get_query

    rows, doc_id = [], 0
    for si, c in enumerate(counts):
        for _ in range(c):
            rows.append((doc_id, f"s{si}", f"text {doc_id}"))
            doc_id += 1
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id bigint, source string, text string"
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = get_query("q_temperature_resample").builder(spark, td).collect()

    kept = Counter(r.source for r in out)
    w = {
        f"s{i}": math.floor(math.sqrt(c) * TEMP_WEIGHT_MICRO)
        for i, c in enumerate(counts)
    }
    w_total = sum(w.values())
    budget = sum(counts) // TEMP_BUDGET_DEN
    for i, c in enumerate(counts):
        s = f"s{i}"
        want = min(c, budget * w[s] // w_total)
        assert kept.get(s, 0) == want, (s, kept.get(s, 0), want, counts)
    # emitted metadata rows must carry the same law
    for r in out:
        si = int(r.source[1:])
        assert r.n_source == counts[si]
        assert r.target_k == min(counts[si], budget * w[r.source] // w_total)


@given(
    groups=st.lists(
        st.lists(
            st.integers(min_value=-(10**4), max_value=10**4),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=3,
    )
)
@SETTINGS
def test_quantile_rollup_exact_median_law(spark, tmp_path_factory, groups):
    """The r11 rank-based two-pass exact median (histogram locates
    the bucket, a residual sort inside it picks the order statistic)
    must equal the directly computed discrete lower median — per
    group AND for the __ALL__ rollup — on arbitrary integer-valued
    tables (gaps, duplicates, negatives, single-element groups)."""
    from mapreduceapp_spark.plans.registry import get_query

    td = str(tmp_path_factory.mktemp("qr"))
    rows = []
    eid = 0
    for gi, vs in enumerate(groups):
        for v in vs:
            rows.append((eid, f"g{gi}", 77, float(v)))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, value double"
    ).write.mode("overwrite").parquet(f"{td}/events.parquet")
    got = {
        r.event_type: r.exact_median_cents
        for r in get_query("q_quantile_rollup").builder(spark, td).collect()
    }

    def lower_median(vals):
        s = sorted(round(v * 100) for v in vals)
        return s[(len(s) + 1) // 2 - 1]

    for gi, vs in enumerate(groups):
        assert got[f"g{gi}"] == lower_median(vs), (gi, vs)
    assert got["__ALL__"] == lower_median(
        [v for vs in groups for v in vs]
    )


# --------------------------------------------- r13 regime-gate parity laws
#
# The dense-kernel regime gates (similarity.ANN_GEMM_MIN_ROWS,
# text.WINNOW_GEMM_MIN_DOCS) swap PLANS, never answers. The fixture
# equality tests pin the corpus tables; these pin the law on random
# structure — adversarial unicode (astral plane, combining marks,
# lone-looking chars), duplicate/empty docs, tiny and boundary-length
# strings, and random small vector sets with engineered ties.

doc_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=126),
        st.characters(min_codepoint=0xE0, max_codepoint=0x10FFFF,
                      blacklist_categories=("Cs",)),
    ),
    max_size=80,
)


@given(texts=st.lists(doc_text, min_size=1, max_size=12))
@SETTINGS
def test_winnow_gemm_parity_law(spark, texts):
    """Batched rolling-hash kernel ≡ codegen HOF winnowing on
    arbitrary unicode documents (code-point decode, boundary masks,
    per-doc distinct)."""
    from mapreduceapp_spark.operators.text import (
        _winnow_fps_gemm,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    a = sorted(map(tuple, winnow_fingerprints(df).collect()))
    b = sorted(map(tuple, _winnow_fps_gemm(df).collect()))
    assert a == b


# small component range forces distance ties, exercising the
# (l2sq, neighbor_id) / low-j tie rules the merges must reproduce
tie_vec = st.lists(
    st.integers(min_value=-2, max_value=2), min_size=64, max_size=64
)


@pytest.mark.parametrize("metric", ["l2", "cosine"])
@given(vecs=st.lists(tie_vec, min_size=3, max_size=24))
@SETTINGS
@pytest.mark.slow
def test_knn_gemm_parity_law(spark, metric, vecs):
    """GEMM exact-kNN ≡ broadcast-join + window form on random tied
    vector sets, under both kNN metrics (every 100th vec_id is a query
    by the engine's predicate, so seed vec_ids across the 0/100/200…
    boundary). Cosine draws exclude the all-zero vector, whose cosine
    fails on both plans (test_knn_cosine_zero_norm_fails_on_both_plans)."""
    from hypothesis import assume
    from pyspark.sql import functions as F

    import mapreduceapp_spark.operators.similarity as sim
    from mapreduceapp_spark.functions.vectors import sq_norm_sql

    m = sim.COSINE if metric == "cosine" else sim.L2
    if m is sim.COSINE:
        assume(all(any(v) for v in vecs))
    rows = [(i * 50, v) for i, v in enumerate(vecs)]  # half are queries
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    e = df.withColumn("sq", F.expr(sq_norm_sql("qv")))
    a = sorted(map(tuple, sim.knn_topk(e, m, "prop_sql", n_rows=None).collect()))
    b = sorted(map(tuple, sim.knn_topk(e, m, "prop_gemm", n_rows=10**9).collect()))
    assert a == b
