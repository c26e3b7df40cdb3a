"""Source/sink formats: CSV, JSON-lines, in-memory, partitioned parquet."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_csv_roundtrip(spark, tmp_path):
    from mapreduceapp_spark.sources import from_rows, read_csv, write_csv

    df = from_rows(
        spark, [(1, "a", 1.5), (2, "b", -2.25)], "id bigint, tag string, v double"
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path, num_files=1)
    back = read_csv(spark, path, "id bigint, tag string, v double")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_jsonl_explicit_schema_drops_unknown_fields(spark, tmp_path):
    from mapreduceapp_spark.sources import read_jsonl

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"id": 1, "kind": "x", "junk": {"deep": true}}\n'
        '{"id": 2, "kind": "y"}\n'
        '{"id": 3}\n'
    )
    df = read_jsonl(spark, str(p), "id bigint, kind string")
    assert df.columns == ["id", "kind"]
    rows = {r["id"]: r["kind"] for r in df.collect()}
    assert rows == {1: "x", 2: "y", 3: None}


def test_partitioned_parquet_sink_prunes(spark, sf_dir, tmp_path):
    """partitionBy layout must be readable back and give the scan a
    partition filter (pruning, not a full read + filter)."""
    from mapreduceapp_spark.sources import load_table, write_parquet

    out = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    write_parquet(orders, out, partition_by=["o_orderstatus"], num_files=2)

    status_dirs = {
        d for d in os.listdir(out) if d.startswith("o_orderstatus=")
    }
    assert len(status_dirs) >= 2  # hive-style layout exists

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    expected = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus=F" in plan or "PartitionFilters" in plan


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC round-trip preserves data, and a filtered re-read pushes
    the predicate into the ORC scan (same contract as parquet)."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.sources import tables
    from mapreduceapp_spark.sources.formats import read_orc, write_orc

    nation = tables(spark, sf_dir).nation
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path, num_files=1)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )
    filtered = back.filter(F.col("n_regionkey") == 0).select("n_name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "n_regionkey" in plan.split(
        "PushedFilters"
    )[1][:200], "predicate not pushed to ORC scan"


# Canonical post-normalization dtypes for every table column
# (generated from the loader's output; sf-independent). Pinning the
# full manifest means the NEXT reader-inference drift (round 3 was
# TIMESTAMP vs TIMESTAMP_NTZ — see load_table) fails here, in-tree,
# instead of as driver AnalysisExceptions.
SCHEMA_MANIFEST = {
    "region": {
        "r_regionkey": "int",
        "r_name": "string",
    },
    "nation": {
        "n_nationkey": "int",
        "n_name": "string",
        "n_regionkey": "int",
    },
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def test_loader_schema_matches_pinned_manifest(spark, sf_dir):
    """load_table must present one canonical schema regardless of how
    the session's parquet reader infers timestamps. In particular no
    TIMESTAMP_NTZ may ever escape the loader: unix_micros() and
    withWatermark() both reject it at analysis time."""
    from mapreduceapp_spark.sources import tables
    from mapreduceapp_spark.sources.parquet import TABLE_NAMES

    t = tables(spark, sf_dir)
    for name in TABLE_NAMES:
        df = getattr(t, name)
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert got == SCHEMA_MANIFEST[name], f"{name}: {got}"
        assert "timestamp_ntz" not in set(got.values()), name


# Canonical post-round-trip dtypes for every stage() slot (the scan
# over the written staged parquet, i.e. what downstream consumers
# actually see). A write-codec or type drift in staged intermediates
# fails here in-tree instead of as a wrong-schema consumer plan.
STAGE_SCHEMA_MANIFEST = {
    "bm25_doc_stats": {
        "doc_id": "bigint",
        "dl": "int",
        "tfs": "array<struct<term:string,tf:int>>",
    },
    "contam_probe_grams": {"gram": "string"},
    "kmeans_assign": {
        "vec_id": "bigint",
        "cluster_id": "bigint",
        "x": "array<bigint>",
        "sq": "bigint",
    },
    "minhash_bands": {"doc_id": "bigint", "band_key": "bigint"},
    "minhash_pairs": {"doc_a": "bigint", "doc_b": "bigint"},
    "minhash_signatures": {
        "doc_id": "bigint",
        "sh": "array<string>",
        "sig": "array<bigint>",
    },
    "simhash_fp": {"doc_id": "bigint", "simhash": "bigint"},
    "knn_topk": {
        "query_id": "bigint",
        "neighbor_id": "bigint",
        "rnk": "int",
        "cos": "double",
    },
}

# one consumer query per slot — running these drives every stage()
# call site with its real producer plan
_STAGE_CONSUMERS = (
    "q_bm25",
    "q_contamination",
    "q_kmeans",
    "q_minhash_neardup",
    "q_dedup_clusters",
    "q_simhash_neardup",
    "q_knn_classify",
)


def test_stage_slots_match_pinned_manifest(spark, sf_dir, monkeypatch):
    """Every stage() slot's written-and-rescanned schema must match
    the pinned manifest exactly — the staging analog of the table
    manifest above. Instrumented by wrapping stage() in place in
    every operator module (they bind the name at import)."""
    import sys

    import mapreduceapp_spark.plans.staging as staging
    from mapreduceapp_spark.plans.registry import get_query

    recorded: dict[str, dict[str, str]] = {}
    orig = staging.stage

    def recording_stage(df, name):
        scan = orig(df, name)
        recorded[name] = {
            f.name: f.dataType.simpleString() for f in scan.schema.fields
        }
        return scan

    get_query(_STAGE_CONSUMERS[0])  # force-load all operator modules
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(
            "mapreduceapp_spark"
        ) and getattr(mod, "stage", None) is orig:
            monkeypatch.setattr(mod, "stage", recording_stage)

    # a warm cluster-fixpoint memo (populated by an earlier test in
    # this session) would short-circuit q_dedup_clusters before its
    # stage() call — reset so every slot's producer really runs
    from mapreduceapp_spark.operators import dedup

    dedup._CLUSTERS_MEMO.clear()
    # likewise the r17 explicit-key slot memo: a hit there returns the
    # staged scan WITHOUT routing through stage(), so a warm session
    # would leave slots unrecorded (the producers are also deferred
    # behind thunks — clearing forces each slot through the real
    # stage() path once)
    staging._SLOT_MEMO.clear()
    for q in _STAGE_CONSUMERS:
        get_query(q).builder(spark, sf_dir).collect()

    for name in sorted(recorded.keys() | STAGE_SCHEMA_MANIFEST.keys()):
        assert recorded.get(name) == STAGE_SCHEMA_MANIFEST.get(name), (
            f"stage slot {name!r}: recorded schema {recorded.get(name)}, "
            f"pinned {STAGE_SCHEMA_MANIFEST.get(name)}"
        )


def test_cold_stage_runs_only_its_write_jobs(spark, tmp_path, monkeypatch):
    """A cold stage() runs the jobs of its parquet write and nothing
    else: the read-back takes ``df.schema`` instead of inferring it
    from the footers, and still yields the footer-inferred (nullable)
    schema and the written rows."""
    from mapreduceapp_spark.plans import staging
    from tests.conftest import jobs_run

    monkeypatch.setattr(staging, "_STAGING_ROOT", str(tmp_path / "stage"))
    monkeypatch.setattr(staging, "_STAGED_PLANS", {})
    df = spark.range(40).selectExpr("id", "id % 7 AS m")
    plain = str(tmp_path / "plain")
    write_jobs = jobs_run(spark, lambda: df.write.parquet(plain))
    staged = []
    stage_jobs = jobs_run(
        spark, lambda: staged.append(staging.stage(df, "cold_slot"))
    )
    assert write_jobs >= 1 and stage_jobs == write_jobs
    assert staged[0].schema == spark.read.parquet(plain).schema
    assert sorted(staged[0].collect()) == sorted(df.collect())


def test_sink_written_schemas_match_loader(spark, sf_dir, tmp_path):
    """Both sinks must write byte-faithful schemas: reading back what
    write_sorted_parquet / compact_parquet wrote must reproduce the
    loader's canonical dtypes exactly — in particular the events
    table's `timestamp` must survive the round trip as `timestamp`
    (the round-3 NTZ incident class), and no column may be widened,
    narrowed, or reordered by the rewrite."""
    from mapreduceapp_spark.sources import (
        compact_parquet,
        load_table,
        write_sorted_parquet,
    )

    for table, sort_col in (("events", "ts"), ("orders", "o_totalprice")):
        src = load_table(spark, sf_dir, table)
        want = {f.name: f.dataType.simpleString() for f in src.schema.fields}
        assert want == SCHEMA_MANIFEST[table]  # precondition, not the test

        sorted_out = str(tmp_path / f"{table}_sorted")
        write_sorted_parquet(src, sorted_out, sort_cols=[sort_col], num_files=2)
        got = {
            f.name: f.dataType.simpleString()
            for f in spark.read.parquet(sorted_out).schema.fields
        }
        assert got == want, f"write_sorted_parquet drifted {table}: {got}"

        compact_out = str(tmp_path / f"{table}_compact")
        compact_parquet(spark, sorted_out, compact_out)
        got = {
            f.name: f.dataType.simpleString()
            for f in spark.read.parquet(compact_out).schema.fields
        }
        assert got == want, f"compact_parquet drifted {table}: {got}"


def test_write_sorted_parquet_clusters_rowgroups(spark, sf_dir, tmp_path):
    """Sorted writes must yield non-overlapping sort-key ranges
    across files (footer min/max stats), which is what lets a reader
    skip row groups on a sort-key predicate."""
    import pyarrow.parquet as pq

    from mapreduceapp_spark.sources import load_table, write_sorted_parquet

    out = str(tmp_path / "orders_sorted")
    orders = load_table(spark, sf_dir, "orders")
    write_sorted_parquet(orders, out, sort_cols=["o_totalprice"], num_files=4)

    ranges = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        col = idx["o_totalprice"]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2 or abs(hi1 - lo2) < 1e-9, (
            f"overlapping row-group ranges ({hi1} > {lo2}) — clustering lost"
        )

    back = spark.read.parquet(out)
    assert back.count() == orders.count()


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """Compaction must collapse a many-small-files directory into few
    files with identical content."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.sources import compact_parquet, load_table

    small = str(tmp_path / "fragmented")
    compacted = str(tmp_path / "compacted")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(37).write.parquet(small)  # simulate streaming debris
    n_small = sum(1 for f in os.listdir(small) if f.endswith(".parquet"))
    assert n_small >= 37

    n_out = compact_parquet(spark, small, compacted, target_file_mb=512)
    assert n_out < n_small
    a = orders.agg(
        F.count(F.lit(1)), F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).first()
    b = spark.read.parquet(compacted).agg(
        F.count(F.lit(1)), F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).first()
    assert tuple(a) == tuple(b)


def test_compact_parquet_sizes_schemed_uris(spark, sf_dir, tmp_path):
    """A schemed URI (here file://, standing in for hdfs://s3a://)
    must be sized through the Hadoop FileSystem API — the local-walk
    fallback would see 0 bytes, collapse n_files to 1, and funnel a
    large table through a single-partition write."""
    from mapreduceapp_spark.sources import compact_parquet, load_table
    from mapreduceapp_spark.sources.formats import _parquet_tree_stats

    small = str(tmp_path / "remote_fragmented")
    load_table(spark, sf_dir, "orders").repartition(9).write.parquet(small)

    uri = f"file://{small}"
    by_uri = _parquet_tree_stats(spark, uri)
    by_walk = _parquet_tree_stats(spark, small)
    assert by_uri == by_walk and by_uri[0] > 0 and by_uri[1] >= 9

    compacted = f"file://{tmp_path / 'remote_compacted'}"
    n_out = compact_parquet(spark, uri, compacted, target_file_mb=512)
    assert 1 <= n_out < 9
    assert spark.read.parquet(compacted).count() == load_table(
        spark, sf_dir, "orders"
    ).count()


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """The co-location contract: two tables bucketed the same way on
    the join key sort-merge-join with NO exchange on either side —
    the layout, not the optimizer, pays for the shuffle, once, at
    write time."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.sources import load_table, write_bucketed_table

    write_bucketed_table(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        "bkt_orders",
        ["o_custkey"],
        num_buckets=8,
        sort_cols=["o_custkey"],
    )
    write_bucketed_table(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name"),
        "bkt_customer",
        ["c_custkey"],
        num_buckets=8,
        sort_cols=["c_custkey"],
    )
    conf = spark.conf
    old_thresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    try:
        # force the sort-merge path so the assertion is about
        # bucketing, not about the dims being broadcastable
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        joined = spark.table("bkt_orders").join(
            spark.table("bkt_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and the result is the real join
        expect = (
            load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert joined.count() == expect
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_register_views_runs_oracle_sql_on_spark(spark, sf_dir):
    """register_views makes the oracle-layer SQL directly runnable on
    Spark: a registered query's ANSI oracle (one whose dialect is
    common to both engines) returns the same rows through
    spark.sql(...) as through its DataFrame builder."""
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import register_views

    names = register_views(spark, sf_dir)
    assert "orders" in names and "lineitem" in names

    q = get_query("q_count_distinct")
    via_sql = {tuple(r) for r in spark.sql(q.oracle).collect()}
    via_df = {tuple(r) for r in q.builder(spark, sf_dir).collect()}
    assert via_sql == via_df and len(via_df) > 0


def test_register_views_partial_directory(spark, sf_dir, tmp_path):
    """A directory holding only some tables registers what it has —
    the stream-staging shape (e.g. a docs-only ingest dir)."""
    from mapreduceapp_spark.sources import load_table, register_views

    part = str(tmp_path / "partial_sf")
    load_table(spark, sf_dir, "documents").write.parquet(
        f"{part}/documents.parquet"
    )
    names = register_views(spark, part)
    assert names == ["documents"]
    n = spark.sql("SELECT count(*) AS n FROM documents").first().n
    assert n == load_table(spark, sf_dir, "documents").count()


def test_zorder_layout_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """The z-ordered layout must deliver what single-key sorting
    can't: file-level min/max pruning on EITHER clustered column. A
    narrow range predicate on each dimension must intersect a
    minority of files (single-sort gives 100% touch on its second
    key — measured in the module docstring's A/B), and the rewrite
    must preserve content exactly."""
    import glob

    import pyarrow.parquet as pq

    from mapreduceapp_spark.sources import load_table
    from mapreduceapp_spark.sources.formats import write_zordered_parquet

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "zord")
    write_zordered_parquet(
        orders, out, ["o_custkey", "o_totalprice"], num_files=16
    )

    def touched(col, lo, hi):
        files = sorted(glob.glob(out + "/*.parquet"))
        n = 0
        for f in files:
            md = pq.read_metadata(f)
            ci = md.schema.names.index(col)
            st = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)]
            if not (max(s.max for s in st) < lo or min(s.min for s in st) > hi):
                n += 1
        return n, len(files)

    # ~3%-of-domain ranges on each dimension (custkey 1..15k·sf,
    # totalprice roughly 1k..600k at any sf)
    n_cust, total = touched("o_custkey", 100, 150)
    n_price, _ = touched("o_totalprice", 400_000.0, 410_000.0)
    assert total >= 8, "expected a multi-file layout"
    assert n_cust <= total // 2, f"custkey prunes nothing: {n_cust}/{total}"
    assert n_price <= total // 2, f"totalprice prunes nothing: {n_price}/{total}"

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, orders.collect()))
    assert got == want


def test_zorder_value_stays_in_codegen(spark, sf_dir):
    """The bucket descent is O(bits) element_at comparisons per
    column precisely so the projection stays inside whole-stage
    codegen (the naive 2^bits comparison sum is >64 KB of generated
    Java and falls back to interpreted rows)."""
    from mapreduceapp_spark.sources import load_table
    from mapreduceapp_spark.sources.formats import zorder_value

    z = zorder_value(
        load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        ["o_custkey", "o_totalprice"],
    )
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan, plan[:2000]


def test_merge_upsert_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    """MERGE semantics (update matched keys, insert new ones) with
    the scale contract: partitions the update batch doesn't touch
    keep their exact files — same names, same bytes — because the
    merge never opens them."""
    import glob
    import hashlib

    from mapreduceapp_spark.sources import load_table
    from mapreduceapp_spark.sources.formats import merge_upsert_parquet

    base_dir = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    orders.write.partitionBy("o_orderstatus").parquet(base_dir)

    def file_hashes(status):
        out = {}
        for f in sorted(glob.glob(f"{base_dir}/o_orderstatus={status}/*.parquet")):
            out[f] = hashlib.sha256(open(f, "rb").read()).hexdigest()
        return out

    before_p = file_hashes("P")

    # updates: replace two existing 'F' orders, insert one new one
    existing = [
        r.o_orderkey
        for r in orders.filter("o_orderstatus = 'F'").limit(2).collect()
    ]
    new_key = 10_000_000
    updates = spark.createDataFrame(
        [(k, 1, 999.99, "F") for k in existing]
        + [(new_key, 1, 111.11, "F")],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string",
    )
    n = merge_upsert_parquet(
        spark, base_dir, updates, ["o_orderkey"], "o_orderstatus"
    )
    assert n == 1  # only the F partition was touched

    after = spark.read.parquet(base_dir)
    # matched keys carry the update's values
    got = {
        r.o_orderkey: r.o_totalprice
        for r in after.filter(F.col("o_orderkey").isin(existing + [new_key])).collect()
    }
    assert got == {k: 999.99 for k in existing} | {new_key: 111.11}
    # row count: base + 1 insert, no duplicates from the replaced keys
    assert after.count() == orders.count() + 1
    # untouched partition: identical file set, identical bytes
    assert file_hashes("P") == before_p
