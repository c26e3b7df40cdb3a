"""Plan-quality gates: the physical plans this engine promises.

Each assertion here is a perf property a refactor could silently
break with zero correctness signal: filters leaving the scan,
broadcasts degrading to shuffles, partial aggregation disappearing,
column pruning widening. SURVEY.md §4 claims these come free from
Catalyst *for the plans as declared* — this suite keeps the
declarations honest.
"""

from __future__ import annotations

import pytest

from mapreduceapp_spark.plans.inspect import inspect_plan
from mapreduceapp_spark.plans.registry import get_query


@pytest.fixture(autouse=True)
def _no_cache_substitution(spark):
    """Ordering-independence guard: a cached subtree registered by an
    earlier test would let the CacheManager rewrite gated plans
    (InMemoryTableScan replaces scans/joins/aggs), changing shuffle
    counts with zero correctness signal — the round-2 full-suite
    flake. Gates must judge the plan as declared."""
    spark.catalog.clearCache()


def _facts(spark, sf_dir, name):
    facts = inspect_plan(get_query(name).builder(spark, sf_dir))
    # belt-and-braces: no gated plan may contain cache substitutions
    assert "InMemoryTableScan" not in facts.text, "plan polluted by session cache"
    return facts


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    f = _facts(spark, sf_dir, "q_filter_project")
    assert f.has_pushed_filters, "predicate not pushed into parquet scan"
    # column pruning: the scan must read a subset, not the 16-col table
    assert f.scans_read_schemas and all(
        s.count(",") < 6 for s in f.scans_read_schemas
    ), f.scans_read_schemas


def test_dim_joins_broadcast(spark, sf_dir):
    f = _facts(spark, sf_dir, "q_broadcast_join")
    assert set(f.join_strategies) == {"BroadcastHashJoin"}
    assert f.n_broadcast_exchanges >= 1


def test_group_agg_has_map_side_partials(spark, sf_dir):
    f = _facts(spark, sf_dir, "q_groupby_agg")
    assert f.has_partial_aggregate, "no map-side combine before the shuffle"
    assert f.shuffle_exchanges() == 1, f"expected exactly 1 shuffle: {f.text}"


def test_knn_broadcasts_queries_not_table(spark, sf_dir):
    f = _facts(spark, sf_dir, "q_knn_cosine")
    assert "BroadcastNestedLoopJoin" in f.join_strategies
    # top-k pushdown: Spark 3.5+ prunes per-partition before the
    # rank-filter window (no full N·Q sort at one reducer)
    assert "WindowGroupLimit" in f.text


def test_charcount_is_two_stage_mapreduce(spark, sf_dir):
    """The flagship's DATA pipeline IS the reference's 4-phase
    pipeline collapsed to Spark's canonical 2 stages: exactly one
    KEY-PARTITIONED shuffle between partial and final aggregation.
    A round-robin spread of the undersized fixture scan
    (sources/parquet.spread_table — absent at production input
    sizes) is permitted in front of it (r17)."""
    f = _facts(spark, sf_dir, "q_charcount")
    assert f.data_shuffle_exchanges() == 1, f.text
    assert f.n_roundrobin_exchanges <= 1
    assert f.has_partial_aggregate


def test_exact_dedup_shuffles_hashes_not_bodies(spark, sf_dir):
    f = _facts(spark, sf_dir, "q_exact_dedup")
    assert f.shuffle_exchanges() == 1
    # the scan needs text (to hash) but the shuffle schema must not:
    # partial agg keys on the 64-hex hash, so 'text' appears in a
    # scan ReadSchema and nowhere in exchange output
    assert f.has_partial_aggregate


def test_repetition_filter_is_shuffle_free(spark, sf_dir):
    """The repetition scan claims scan-speed: the n-gram array must
    live and die inside one projection — zero KEY-PARTITIONED
    exchanges (the r17 spread_table round-robin, inserted only when
    the fixture file undercuts the cluster's parallelism, carries raw
    rows once and is absent at production input sizes)."""
    f = _facts(spark, sf_dir, "q_repetition_filter")
    assert f.data_shuffle_exchanges() == 0, f.text
    assert f.n_roundrobin_exchanges <= 1
    assert f.n_broadcast_exchanges == 0


def test_contamination_broadcasts_probe_not_corpus(spark, sf_dir):
    """Decontamination must broadcast the (benchmark-sized) probe
    grams and stream the corpus: a SortMergeJoin here would shuffle
    every corpus n-gram."""
    f = _facts(spark, sf_dir, "q_contamination")
    assert set(f.join_strategies) == {"BroadcastHashJoin"}, f.join_strategies
    # column pruning: only (doc_id, text) may be read
    assert all("lang" not in s and "n_chars" not in s for s in f.scans_read_schemas)


def test_ngram_counts_partial_aggregates(spark, sf_dir):
    """Zipfian gram heads must collapse map-side before the
    exchange."""
    f = _facts(spark, sf_dir, "q_ngram_counts")
    assert f.has_partial_aggregate


def test_bm25_joins_never_sort_merge(spark, sf_dir):
    """idf/stats are tiny and must broadcast; nothing in the BM25
    plan justifies a sort-merge shuffle join."""
    f = _facts(spark, sf_dir, "q_bm25")
    assert "SortMergeJoin" not in f.join_strategies, f.join_strategies
    assert f.n_broadcast_exchanges >= 2
    # scan fusion: tf/dl/stats all come off the staged integer
    # projection — the returned plan must never re-read document text
    assert all("text" not in s for s in f.scans_read_schemas), f.scans_read_schemas


def test_domain_mix_broadcasts_rates(spark, sf_dir):
    """Per-source rates (|sources| rows) and the one-row total must
    broadcast back onto the corpus — the keep decision is map-only."""
    f = _facts(spark, sf_dir, "q_domain_mix")
    assert "SortMergeJoin" not in f.join_strategies, f.join_strategies
    assert f.n_broadcast_exchanges >= 2


def test_kmeans_fanout_collapses_map_side(spark, sf_dir):
    """Both assignment rounds broadcast the centroid state and
    collapse the k-way fan-out in a partial aggregate; the only
    N-sized shuffles are the two assignment aggregates (+ 2 tiny
    centroid/result aggs)."""
    f = _facts(spark, sf_dir, "q_kmeans")
    assert "SortMergeJoin" not in f.join_strategies, f.join_strategies
    assert f.has_partial_aggregate
    assert f.shuffle_exchanges() <= 4, f.text


def test_stage_is_idempotent_per_plan(spark, sf_dir, tmp_path, monkeypatch):
    """Re-staging a semantically-equal plan into the same slot must
    run ZERO jobs (the bench invokes every staged builder 3x; without
    reuse the staging write is triple-paid), while a different plan
    in the same slot must rewrite."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.plans import staging
    from mapreduceapp_spark.sources import tables

    monkeypatch.setattr(staging, "_STAGING_ROOT", str(tmp_path / "stage"))
    monkeypatch.setattr(staging, "_STAGED_PLANS", {})

    def jobs() -> int:
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    import os

    nat = tables(spark, sf_dir).nation.select("n_nationkey", "n_regionkey")
    staging.stage(nat, "idem_slot")
    before = jobs()
    out = staging.stage(nat, "idem_slot")  # same plan, same name
    assert jobs() == before, "idempotent re-stage ran Spark jobs"
    assert out.count() == nat.count()  # staged bytes still readable

    # a different plan under the same name must land in its OWN slot
    # (path embeds the plan hash — stale-data guard for recycled
    # names), leaving the first slot intact
    other = nat.filter(F.col("n_regionkey") == 0)
    other_scan = staging.stage(other, "idem_slot")
    slots = [
        d for d in os.listdir(tmp_path / "stage") if d.startswith("idem_slot_")
    ]
    assert len(slots) == 2, slots
    assert other_scan.count() == other.count()
    assert out.count() == nat.count()  # first slot unharmed


def test_named_slot_path_is_its_name_and_key(spark, tmp_path, monkeypatch):
    """A named slot's directory is derived from its (name, key)
    identity, not from the producer's plan hash: two producer plans
    under one key, each staged from a fresh root as a new process
    would, land in the same directory name, so a persistent staging
    root keeps one directory per slot."""
    import os

    from mapreduceapp_spark.plans import staging

    producers = (
        lambda: spark.range(5),
        lambda: spark.range(7).selectExpr("id * 2 AS id"),
    )
    dirs = []
    for i, make_df in enumerate(producers):
        root = tmp_path / f"process{i}"
        monkeypatch.setattr(staging, "_STAGING_ROOT", str(root))
        monkeypatch.setattr(staging, "_STAGED_PLANS", {})
        monkeypatch.setattr(staging, "_SLOT_MEMO", {})
        scan = staging.slot(spark, "named_slot", "corpus-key", make_df)
        assert scan.count() == make_df().count()
        dirs.append(sorted(os.listdir(root)))
    assert dirs[0] == dirs[1] and len(dirs[0]) == 1, dirs


def test_no_query_plans_a_cartesian_product(spark, sf_dir, tmp_path, monkeypatch):
    """Global anti-pattern gate over the ENTIRE registered surface:
    no query may plan a CartesianProduct, and BroadcastNestedLoopJoin
    may appear only in the allowlisted queries that join a 1-row /
    broadcast stats side by design (documented in each). A new query
    that accidentally cross-joins fails here, not at 100 TB.

    The sweep runs against a COLD staging root (VERDICT r12 wrong #2):
    with the process-wide root, whether a query's lineage still
    contains its guard joins depended on which earlier tests had
    already materialized its staged slots — the gate's verdict was
    test-order-dependent (the full-suite run surfaced a BNLJ in one
    aniso query where a fresh session shows BNLJs in all four). Cold
    slots make every plan the fresh-session plan, every run."""
    from mapreduceapp_spark.plans import staging
    from mapreduceapp_spark.plans.registry import all_queries

    monkeypatch.setattr(staging, "_STAGING_ROOT", str(tmp_path / "cold_stage"))
    monkeypatch.setattr(staging, "_STAGED_PLANS", {})

    # executed demos run jobs at build; exclude from the plan sweep
    skip = {"q_late_data", "q_progress"}
    # conditionless 1-row/stat broadcast joins, by design:
    bnlj_ok = {
        "q_knn_cosine",      # plan-level budget-guard join
        "q_training_order",  # global count broadcast
        "q_bm25",            # idf/length stats broadcast
        "q_domain_mix",      # token budget broadcast
        "q_unigram_logprob", # 1-row total-token-count broadcast
        "q_temperature_resample",  # 1-row (w_total, n_total) stats broadcast
        "q_tpch_q22",        # 1-row (cnt, tot) balance-average broadcast
        "q_heavy_hitters",   # 1-row total-count threshold broadcast
        "q_hll_rollup",      # 1-row merged-sketch estimate broadcast
        "q_copurchase_triangles",  # three 1-row global counts combined
        "q_quantile_rollup",  # 1-row (lo, width) domain broadcast
        "q_knn_l2",           # plan-level budget-guard join (knn twin)
        # the ≤2048-row codebook-slice crossJoin of an ADC distance
        # table that is not staged (the residual rows stage theirs)
        "q_pq_ann",
        "q_pq_rerank_recall",
        "q_ivfpq_recall",
        "q_pq_recall_aniso",
        "q_ivfpq_recall_aniso",
        "q_pq_recall_normalized_aniso",
        "q_opq_recall_aniso",
    }
    for name, builder in all_queries().items():
        if name in skip:
            continue
        plan = (
            builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
        if "BroadcastNestedLoopJoin" in plan:
            assert name in bnlj_ok, f"{name} plans an unexpected BNLJ"
