"""TxLog table format (sources/txlog.py): snapshot isolation, time
travel, optimistic concurrency, manifest-level file skipping, CDC,
vacuum, and the exactly-once streaming append."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mapreduceapp_spark.sources.txlog import (
    TxConflict,
    txlog_append,
    txlog_changes,
    txlog_committed_batches,
    txlog_create,
    txlog_foreach_batch_append,
    txlog_read,
    txlog_upsert,
    txlog_vacuum,
    txlog_versions,
    _manifest_path,
)
from tests.conftest import jobs_run


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    root = str(tmp_path / "tx")
    base = _orders(spark, sf_dir)
    txlog_create(spark, root, base, stats_cols=["o_orderkey"], files=4)
    return root, base


def test_create_read_roundtrip(spark, table):
    root, base = table
    assert txlog_versions(root) == [1]
    got = txlog_read(spark, root)
    assert got.count() == base.count()
    assert sorted(got.columns) == sorted(base.columns)


def test_append_and_time_travel(spark, sf_dir, table):
    root, base = table
    extra = _orders(spark, sf_dir).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    v2 = txlog_append(spark, root, extra)
    assert v2 == 2
    n = base.count()
    assert txlog_read(spark, root, version=1).count() == n
    assert txlog_read(spark, root, version=2).count() == 2 * n
    assert txlog_read(spark, root).count() == 2 * n  # latest


def test_upsert_replaces_matched_inserts_rest(spark, table):
    root, base = table
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserts = base.select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice", "o_orderpriority",
    ).limit(5)
    n_upd = updates.count()
    txlog_upsert(
        spark, root, updates.unionByName(inserts), ["o_orderkey"]
    )
    now = txlog_read(spark, root)
    assert now.count() == base.count() + 5
    # matched rows carry the doubled price
    doubled = now.join(updates.select("o_orderkey", "o_totalprice"),
                       ["o_orderkey", "o_totalprice"])
    assert doubled.count() == n_upd
    # version 1 is untouched history
    v1 = txlog_read(spark, root, version=1)
    assert v1.count() == base.count()
    assert v1.join(
        updates.select("o_orderkey", "o_totalprice"),
        ["o_orderkey", "o_totalprice"],
    ).count() == 0


def test_upsert_prunes_candidate_files_by_stats(spark, table):
    """An update batch whose key range misses a file's min/max window
    must not remove that file — it transfers to the new version by
    manifest reference, zero bytes rewritten."""
    root, base = table
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    before = set(
        json.load(open(_manifest_path(root, 1)))["adds"][0].keys()
    )  # manifest shape sanity
    assert {"path", "rows", "stats"} <= before
    live_v1 = txlog_read(spark, root).inputFiles()
    assert len(live_v1) > 1, "need multiple files for a pruning test"
    updates = base.filter(F.col("o_orderkey") == lo).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    txlog_upsert(spark, root, updates, ["o_orderkey"])
    m2 = json.load(open(_manifest_path(root, 2)))
    assert len(m2["removes"]) < len(live_v1), (
        "stats pruning did not narrow the rewrite set"
    )
    assert txlog_read(spark, root).count() == base.count()


def test_read_prune_skips_files_without_changing_results(spark, table):
    root, base = table
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    window = (lo, lo + 50)
    pruned = txlog_read(spark, root, prune={"o_orderkey": window})
    full = txlog_read(spark, root)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = (
        full.filter(F.col("o_orderkey").between(*window))
        .orderBy("o_orderkey").collect()
    )
    got = (
        pruned.filter(F.col("o_orderkey").between(*window))
        .orderBy("o_orderkey").collect()
    )
    assert got == want


def test_lost_race_append_retries_conflicting_upsert_raises(
    spark, table
):
    root, base = table
    # simulate a concurrent writer owning version 2: removes one live
    # file (as an upsert would)
    victim = json.load(open(_manifest_path(root, 1)))["adds"][0]["path"]
    with open(_manifest_path(root, 2), "x") as fh:
        json.dump(
            {"version": 2, "operation": "upsert", "read_version": 1,
             "adds": [], "removes": [victim], "txn": None},
            fh,
        )
    # an append never conflicts: lands at 3
    extra = base.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 30_000_000
    )
    assert txlog_append(spark, root, extra) == 3
    # a commit whose snapshot predates version 2 and which removes
    # the same file must detect the write-write conflict at commit
    # time (the interleaved writer landed DURING its data write)
    from mapreduceapp_spark.sources.txlog import _commit

    with pytest.raises(TxConflict):
        _commit(root, [], [victim], "upsert", read_version=1)


def test_exactly_once_streaming_append(spark, table):
    root, base = table
    sink = txlog_foreach_batch_append(spark, root, app="ingest-test")
    batch = base.limit(7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 40_000_000
    )
    n0 = txlog_read(spark, root).count()
    sink(batch, 0)
    sink(batch, 0)  # foreachBatch replay after failure: same batch_id
    assert txlog_read(spark, root).count() == n0 + 7, "replay dup'd rows"
    sink(batch.withColumn("o_orderkey", F.col("o_orderkey") + 1), 1)
    assert txlog_read(spark, root).count() == n0 + 14
    assert txlog_committed_batches(root, "ingest-test") == {0, 1}


def test_concurrent_threaded_appenders_lose_nothing(spark, table):
    """Two real writer threads race the manifest slots: every append
    must land (lost races retry at the next slot), no version is
    double-claimed, no rows are lost."""
    import threading

    root, base = table
    v0 = txlog_versions(root)[-1]
    n0 = txlog_read(spark, root).count()
    errs: list[Exception] = []

    def writer(worker: int) -> None:
        try:
            for i in range(5):
                batch = base.limit(3).withColumn(
                    "o_orderkey",
                    F.col("o_orderkey")
                    + (100 + worker * 10 + i) * 1_000_000,
                )
                txlog_append(spark, root, batch)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert txlog_versions(root)[-1] == v0 + 10  # every commit landed
    assert txlog_read(spark, root).count() == n0 + 30


def test_zombie_writers_same_batch_id_commit_once(spark, table):
    """The zombie-driver replay: a stalled original driver and its
    restarted replacement BOTH replay micro-batch N — both pass any
    ledger pre-check before either commits. Exactly one data commit
    may land; the loser must observe the duplicate (app, batch_id)
    txn at the serialization point and return the winner's version as
    success (VERDICT r9 'What's wrong' #1). A barrier puts both
    threads past the pre-check window deterministically."""
    import threading

    root, base = table
    v0 = txlog_versions(root)[-1]
    n0 = txlog_read(spark, root).count()
    batch = base.limit(7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 50_000_000
    )
    start = threading.Barrier(2)
    results: dict[int, int] = {}
    errs: list[Exception] = []

    def writer(worker: int) -> None:
        try:
            start.wait()
            results[worker] = txlog_append(
                spark, root, batch, txn=("zombie-app", 5)
            )
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    # exactly one commit landed; both writers report the SAME version
    assert txlog_versions(root)[-1] == v0 + 1
    assert set(results.values()) == {v0 + 1}
    assert txlog_read(spark, root).count() == n0 + 7, "batch dup'd"
    assert txlog_committed_batches(root, "zombie-app") == {5}


def test_zombie_upsert_same_batch_id_is_noop_not_conflict(spark, table):
    """The upsert flavor of the zombie replay: both writers derive
    the SAME rewrite from the same snapshot, so they remove the same
    files — without the txn-duplicate rule the loser would raise
    TxConflict (or worse, re-derive and double-apply). The duplicate
    txn must win over the conflict check: the loser no-ops."""
    import threading

    root, base = table
    v0 = txlog_versions(root)[-1]
    n0 = txlog_read(spark, root).count()
    updates = base.limit(6).withColumn("o_totalprice", F.lit(77.0))
    start = threading.Barrier(2)
    results: dict[int, int] = {}
    errs: list[Exception] = []

    def writer(worker: int) -> None:
        try:
            start.wait()
            results[worker] = txlog_upsert(
                spark, root, updates, ["o_orderkey"],
                txn=("zombie-cdc", 3),
            )
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert txlog_versions(root)[-1] == v0 + 1
    assert set(results.values()) == {v0 + 1}
    now = txlog_read(spark, root)
    assert now.count() == n0  # pure update applied exactly once
    assert now.filter(F.col("o_totalprice") == 77.0).count() == 6
    assert txlog_committed_batches(root, "zombie-cdc") == {3}


def test_commit_returns_existing_version_for_duplicate_txn(spark, table):
    """Deterministic single-thread pin of the serialization-point
    rule: a manifest carrying our txn already exists past our
    read_version → _commit returns ITS version and writes nothing."""
    from mapreduceapp_spark.sources.txlog import _commit

    root, base = table
    extra = base.limit(4).withColumn(
        "o_orderkey", F.col("o_orderkey") + 60_000_000
    )
    v = txlog_append(spark, root, extra, txn=("app-x", 9))
    n = txlog_read(spark, root).count()
    # replay with a STALE snapshot (read_version before the commit):
    # the validation walk must surface the duplicate
    got = _commit(root, [], [], "append", read_version=v - 1,
                  txn=("app-x", 9))
    assert got == v
    assert txlog_versions(root)[-1] == v  # no new manifest
    assert txlog_read(spark, root).count() == n


def test_exactly_once_upsert_sink(spark, table):
    from mapreduceapp_spark.sources.txlog import txlog_foreach_batch_upsert

    root, base = table
    n0 = txlog_read(spark, root).count()
    sink = txlog_foreach_batch_upsert(
        spark, root, ["o_orderkey"], app="cdc-apply"
    )
    batch = base.limit(8).withColumn("o_totalprice", F.lit(42.0))
    sink(batch, 0)
    sink(batch, 0)  # replay: must not create a version or touch rows
    now = txlog_read(spark, root)
    assert now.count() == n0  # pure update, no inserts
    assert now.filter(F.col("o_totalprice") == 42.0).count() == 8
    assert txlog_committed_batches(root, "cdc-apply") == {0}


def test_delete_removes_keys_keeps_history(spark, table):
    """txlog_delete: matched rows disappear from the live snapshot,
    history stays readable, stats pruning narrows the rewrite set,
    and the file-granular CDC feed carries the deletions."""
    from mapreduceapp_spark.sources.txlog import txlog_delete

    root, base = table
    n0 = base.count()
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    doomed = base.filter(F.col("o_orderkey").between(lo, lo + 30))
    n_doomed = doomed.count()
    assert n_doomed > 0
    v = txlog_delete(spark, root, doomed, ["o_orderkey"])
    assert v == 2
    now = txlog_read(spark, root)
    assert now.count() == n0 - n_doomed
    assert now.filter(F.col("o_orderkey").between(lo, lo + 30)).count() == 0
    # history: version 1 still carries every row
    assert txlog_read(spark, root, version=1).count() == n0
    # stats pruning: the narrow key range must not rewrite every file
    m2 = json.load(open(_manifest_path(root, 2)))
    live_v1 = txlog_read(spark, root, version=1).inputFiles()
    assert len(m2["removes"]) < len(live_v1)
    # CDC: folding the feed by key nets out to exactly the deletions
    feed = txlog_changes(spark, root, 1, 2)
    net_deleted = (
        feed.groupBy("o_orderkey", "o_custkey", "o_totalprice",
                     "o_orderpriority")
        .agg(
            F.sum(F.when(F.col("_change_type") == "delete", 1).otherwise(-1))
            .alias("net")
        )
        .filter(F.col("net") > 0)
    )
    assert net_deleted.count() == n_doomed


def test_delete_misses_are_noop_without_commit(spark, table):
    """A delete whose key window misses every file's stats range
    commits nothing — the version does not advance. UNLESS it carries
    a txn: the batch still happened, and the (app, batch_id) must
    enter the ledger or a replay loop keyed on it would re-run the
    delete forever (the idempotency contract on the no-op path)."""
    from mapreduceapp_spark.sources.txlog import txlog_delete

    root, base = table
    v0 = txlog_versions(root)[-1]
    ghost = base.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )
    v = txlog_delete(spark, root, ghost, ["o_orderkey"])
    assert v == v0
    assert txlog_versions(root)[-1] == v0
    assert txlog_read(spark, root).count() == base.count()
    # txn-carrying miss: an EMPTY commit records the batch id
    v = txlog_delete(spark, root, ghost, ["o_orderkey"],
                     txn=("cdc-del", 4))
    assert v == v0 + 1
    assert txlog_committed_batches(root, "cdc-del") == {4}
    assert txlog_read(spark, root).count() == base.count()
    # and the replay of that no-op batch is itself a no-op
    v2 = txlog_delete(spark, root, ghost, ["o_orderkey"],
                      txn=("cdc-del", 4))
    assert v2 == v and txlog_versions(root)[-1] == v


def test_incremental_agg_reads_only_changed_files(spark, table):
    """The MV-refresh scale contract, on a 4-file table with a
    NARROW upsert (so most files transfer between versions by
    manifest reference): the refresh plan — stored v1 aggregate +
    folded change feed — may read only the files version 2 added or
    removed, never a shared file (reading one would mean the refresh
    rescans unchanged data), and must equal the recomputed v2
    aggregate exactly (int64 cents — file-granular survivor pairs
    cancel exactly in a group homomorphism)."""
    from mapreduceapp_spark.sources.txlog import _live_files, txlog_changes

    root, base = table
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    updates = base.filter(
        F.col("o_orderkey").between(lo, lo + 40)
    ).withColumn("o_totalprice", F.col("o_totalprice") * 3)
    txlog_upsert(spark, root, updates, ["o_orderkey"])

    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )

    # the stored MV: materialized (collected) — its files must not
    # appear in the refresh plan's scan set
    mv = spark.createDataFrame(
        agg(txlog_read(spark, root, version=1)).collect()
    )
    feed = txlog_changes(spark, root, 1, 2)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = feed.groupBy("o_orderpriority").agg(
        F.sum(sign).alias("dn"), F.sum(sign * cents).alias("dc")
    )
    refreshed = (
        mv.join(delta, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .alias("n_orders"),
            (
                F.coalesce("total_cents", F.lit(0))
                + F.coalesce("dc", F.lit(0))
            ).alias("total_cents"),
        )
        .where(F.col("n_orders") > 0)
    )
    shared = {
        os.path.join(root, rel)
        for rel in set(_live_files(root, 1)[0]) & set(_live_files(root, 2)[0])
    }
    assert shared, "narrow upsert should transfer some files untouched"
    inputs = set(refreshed.inputFiles())
    assert inputs and not inputs & shared, sorted(inputs & shared)
    got = sorted(map(tuple, refreshed.collect()))
    want = sorted(map(tuple, agg(txlog_read(spark, root)).collect()))
    assert got == want


def test_incremental_agg_query_matches_recompute(spark, sf_dir):
    """The registered query: incremental == recomputed-at-v2."""
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources.txlog import _demo_table

    df = get_query("q_txlog_incremental_agg").builder(spark, sf_dir)
    root = _demo_table(spark, sf_dir)
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        map(
            tuple,
            txlog_read(spark, root, version=2)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("total_cents"),
            )
            .collect(),
        )
    )
    assert got == want


def test_additive_schema_evolution(spark, table):
    """Appends carrying a new column require evolve=True; afterwards
    pre-evolution rows surface the column as null, declared columns
    stay mandatory at their declared types, and an evolved upsert
    unions pre-evolution survivors correctly."""
    from mapreduceapp_spark.sources.txlog import TxSchemaMismatch

    root, base = table
    n0 = txlog_read(spark, root).count()
    extra = base.limit(6).withColumn(
        "o_orderkey", F.col("o_orderkey") + 70_000_000
    ).withColumn("quality", F.lit(0.5))
    with pytest.raises(TxSchemaMismatch):
        txlog_append(spark, root, extra)  # new column, no evolve
    txlog_append(spark, root, extra, evolve=True)
    now = txlog_read(spark, root)
    assert "quality" in now.columns
    assert now.filter(F.col("quality").isNull()).count() == n0
    assert now.filter(F.col("quality") == 0.5).count() == 6
    # declared columns are mandatory at declared types forever after
    with pytest.raises(TxSchemaMismatch):
        txlog_append(spark, root, extra.drop("o_custkey", "quality"),
                     evolve=True)
    with pytest.raises(TxSchemaMismatch):
        txlog_append(
            spark, root,
            extra.withColumn("o_custkey", F.col("o_custkey").cast("int")),
        )
    # an upsert must now carry the evolved column too; pre-evolution
    # survivors in rewritten files surface it as null
    upd = base.limit(4).withColumn("o_totalprice", F.lit(5.0)).withColumn(
        "quality", F.lit(0.9)
    )
    txlog_upsert(spark, root, upd, ["o_orderkey"])
    after = txlog_read(spark, root)
    assert after.count() == n0 + 6
    assert after.filter(F.col("quality") == 0.9).count() == 4


def _evolved(spark, table):
    """create (v1) → evolve=True append adding ``quality`` (v2) →
    upsert carrying it (v3); returns (root, rows at v1)."""
    root, base = table
    n0 = txlog_read(spark, root).count()
    extra = base.limit(6).withColumn(
        "o_orderkey", F.col("o_orderkey") + 70_000_000
    ).withColumn("quality", F.lit(0.5))
    txlog_append(spark, root, extra, evolve=True)
    upd = base.limit(4).withColumn("o_totalprice", F.lit(5.0)).withColumn(
        "quality", F.lit(0.9)
    )
    txlog_upsert(spark, root, upd, ["o_orderkey"])
    return root, n0


def test_time_travel_reads_the_versions_own_columns(spark, table):
    """The schema comes from the manifest of the version read, not
    the table's latest declaration: version 1 of an evolved table
    keeps its pre-evolution columns."""
    root, base = table
    _evolved(spark, table)
    assert txlog_read(spark, root, version=1).columns == base.columns
    assert txlog_read(spark, root, version=2).columns == (
        base.columns + ["quality"]
    )
    assert txlog_read(spark, root).columns == base.columns + ["quality"]


def test_changes_across_additive_evolution(spark, table):
    """The change feed over create → evolve append → upsert: both
    sides scan with the end version's columns, so deleted
    pre-evolution rows surface the new column as null and the feed
    folds to the snapshot difference."""
    root, base = table
    _evolved(spark, table)
    feed = txlog_changes(spark, root, 1, 3)
    assert feed.columns == base.columns + ["quality", "_change_type"]
    rows = feed.collect()
    dels = [r for r in rows if r["_change_type"] == "delete"]
    ins = [r for r in rows if r["_change_type"] == "insert"]
    assert dels and all(r["quality"] is None for r in dels)
    assert len(ins) - len(dels) == (
        txlog_read(spark, root, version=3).count()
        - txlog_read(spark, root, version=1).count()
    )
    assert sum(r["quality"] == 0.9 for r in ins) == 4
    assert sum(r["quality"] == 0.5 for r in ins) == 6


def test_manifests_without_columns_read_through_merge_schema(
    spark, table
):
    """A log written before manifests carried ``columns`` reads the
    same rows through the mergeSchema path, evolved column included."""
    from mapreduceapp_spark.sources.txlog import txlog_checkpoint

    root, _ = table
    _evolved(spark, table)
    txlog_checkpoint(root)

    def snapshot(version):
        df = txlog_read(spark, root, version=version)
        return sorted(df.columns), sorted(
            tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
            for r in df.collect()
        )

    want = {v: snapshot(v) for v in (1, 2, 3)}
    log = os.path.join(root, "_txlog")
    for name in os.listdir(log):
        if name.startswith("_"):
            continue
        path = os.path.join(log, name)
        with open(path) as fh:
            m = json.load(fh)
        assert "columns" in m
        del m["columns"]
        with open(path, "w") as fh:
            json.dump(m, fh)
    assert {v: snapshot(v) for v in (1, 2, 3)} == want


def test_manifest_columns_roundtrip_rich_types(spark, tmp_path):
    """Decimal, date, timestamp, array and struct columns survive the
    manifest's recorded types, struct field names a DDL string would
    have to quote included: the read schema and rows equal the
    written frame's."""
    root = str(tmp_path / "rich")
    df = spark.range(12).selectExpr(
        "id AS k",
        "CAST(id * 1.25 AS DECIMAL(12, 2)) AS d",
        "date_add(DATE'2024-02-27', CAST(id AS INT)) AS dt",
        "TIMESTAMP'2024-02-27 23:59:00' + make_interval(0, 0, 0, 0, 0, 0, id)"
        " AS ts",
        "array(id, id * 2) AS arr",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
        "named_struct('a b', id, 'c:d', array(named_struct('e,f', id)))"
        " AS odd",
    )
    txlog_create(spark, root, df, stats_cols=["k"], files=2)
    with open(_manifest_path(root, 1)) as fh:
        assert list(json.load(fh)["columns"]) == df.columns
    got = txlog_read(spark, root)
    assert got.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_building_reads_runs_no_spark_jobs(spark, table):
    """Building a txlog_read (plain, pruned, time travel) or a
    txlog_changes frame is manifest work only: zero Spark jobs."""
    root, base = table
    updates = base.limit(5).withColumn("o_totalprice", F.lit(7.0))
    txlog_upsert(spark, root, updates, ["o_orderkey"])
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    builds = {
        "plain": lambda: txlog_read(spark, root),
        "pruned": lambda: txlog_read(
            spark, root, prune={"o_orderkey": (lo, lo)}
        ),
        "time_travel": lambda: txlog_read(spark, root, version=1),
        "changes": lambda: txlog_changes(spark, root, 1, 2),
    }
    for name, build in builds.items():
        assert jobs_run(spark, build) == 0, name


def test_incremental_scan_returns_only_new_rows(spark, table):
    """An append-only consumer resuming from a remembered version
    sees exactly the appended rows, and resuming from the latest
    version sees nothing."""
    from mapreduceapp_spark.sources.txlog import txlog_scan_incremental

    root, base = table
    v1 = txlog_versions(root)[-1]
    extra = base.limit(9).withColumn(
        "o_orderkey", F.col("o_orderkey") + 80_000_000
    )
    txlog_append(spark, root, extra)
    inc = txlog_scan_incremental(spark, root, v1)
    assert inc.count() == 9
    assert inc.filter(F.col("o_orderkey") < 80_000_000).count() == 0
    assert (
        txlog_scan_incremental(spark, root, txlog_versions(root)[-1]).count()
        == 0
    )


def test_cdc_between_versions(spark, table):
    root, base = table
    updates = base.filter(F.col("o_orderkey") % 50 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    txlog_upsert(spark, root, updates, ["o_orderkey"])
    feed = txlog_changes(spark, root, 1, 2)
    ins = feed.filter(F.col("_change_type") == "insert")
    dels = feed.filter(F.col("_change_type") == "delete")
    # every updated key appears on both sides; folding by key yields
    # exactly the net price bump
    changed = (
        ins.select("o_orderkey", "o_totalprice")
        .join(
            dels.select(
                "o_orderkey", F.col("o_totalprice").alias("old_price")
            ),
            "o_orderkey",
        )
        .filter(F.col("o_totalprice") != F.col("old_price"))
    )
    assert changed.count() == updates.count()


def test_checkpoint_replaces_manifest_replay(spark, sf_dir, table):
    """After a checkpoint, the live set must come from (checkpoint +
    tail) — pinned by physically removing the pre-checkpoint
    manifests (log cleanup) and asserting reads still resolve."""
    from mapreduceapp_spark.sources.txlog import txlog_checkpoint

    root, base = table
    extra = base.limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 50_000_000
    )
    txlog_append(spark, root, extra)          # v2
    updates = base.limit(5).withColumn("o_totalprice", F.lit(9.0))
    txlog_upsert(spark, root, updates, ["o_orderkey"])  # v3
    want = txlog_read(spark, root).count()
    assert txlog_checkpoint(root) == 3
    # checkpointed read equals manifest-replay read
    assert txlog_read(spark, root).count() == want
    # simulate log cleanup: pre-checkpoint manifests gone
    for v in (1, 2):
        os.remove(_manifest_path(root, v))
    got = txlog_read(spark, root)
    assert got.count() == want
    # a further commit on top of the checkpoint still replays
    txlog_append(spark, root, extra.withColumn(
        "o_orderkey", F.col("o_orderkey") + 1
    ))
    assert txlog_read(spark, root).count() == want + 10


def test_compact_folds_small_files_keeps_history(spark, sf_dir, table):
    """Streaming-shaped table (many per-batch commits, small files)
    compacts into fewer files as a NORMAL commit: rows identical,
    pre-compaction versions still readable, checkpoint written."""
    from mapreduceapp_spark.sources.txlog import txlog_compact

    root, base = table
    for k in range(3):  # three micro-batch-ish appends
        txlog_append(
            spark,
            root,
            base.limit(10).withColumn(
                "o_orderkey", F.col("o_orderkey") + (60 + k) * 1_000_000
            ),
        )
    pre_files = len(txlog_read(spark, root).inputFiles())
    pre_rows = txlog_read(spark, root).count()
    pre_version = txlog_versions(root)[-1]
    v = txlog_compact(spark, root, files=2)
    assert v == pre_version + 1
    now = txlog_read(spark, root)
    assert now.count() == pre_rows
    assert len(now.inputFiles()) < pre_files
    # the pre-compaction snapshot is intact history
    assert txlog_read(spark, root, version=pre_version).count() == pre_rows
    # compaction checkpointed its version
    from mapreduceapp_spark.sources.txlog import _latest_checkpoint

    assert _latest_checkpoint(root, v)[0] == v


def test_bloom_point_lookup_skips_files(spark, sf_dir, tmp_path):
    """Point lookups on a column the layout is NOT range-clustered on
    (every file's min/max spans the domain) still skip files via the
    manifest blooms — and a value absent from the table opens zero
    files."""
    from mapreduceapp_spark.sources.txlog import txlog_create

    root = str(tmp_path / "tx_bloom")
    base = _orders(spark, sf_dir)
    txlog_create(
        spark, root, base,
        stats_cols=["o_orderkey"], bloom_cols=["o_custkey"], files=4,
    )
    full = txlog_read(spark, root)
    assert len(full.inputFiles()) == 4
    # a custkey that lives in exactly one file (rarest key)
    key = (
        base.groupBy("o_custkey").count().orderBy("count", "o_custkey")
        .first()["o_custkey"]
    )
    hit = txlog_read(spark, root, point={"o_custkey": key})
    assert len(hit.inputFiles()) < 4
    want = full.filter(F.col("o_custkey") == key).orderBy("o_orderkey")
    got = hit.filter(F.col("o_custkey") == key).orderBy("o_orderkey")
    assert got.collect() == want.collect()
    # absent key: every file bloom-skipped, schema-preserving empty
    miss = txlog_read(spark, root, point={"o_custkey": -12345})
    assert miss.count() == 0
    assert sorted(miss.columns) == sorted(full.columns)


@pytest.mark.slow
def test_txlog_random_op_sequences_match_model(spark, tmp_path):
    """Property: any sequence of append / upsert / compact /
    checkpoint leaves the latest snapshot equal to a plain dict
    model, a remembered mid-sequence version equal to its remembered
    model state (time travel), and a closing vacuum changes neither.
    The value is the random STRUCTURE (upserts racing appended keys,
    compaction between writes, checkpoints mid-history) — each
    example is several Spark jobs, so examples stay few and small."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from mapreduceapp_spark.sources.txlog import (
        txlog_checkpoint,
        txlog_compact,
        txlog_vacuum,
    )

    op = st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(st.integers(0, 30), min_size=1, max_size=6),
            st.integers(0, 10**6),
        ),
        st.tuples(
            st.just("upsert"),
            st.lists(st.integers(0, 30), min_size=1, max_size=6),
            st.integers(0, 10**6),
        ),
        st.tuples(st.just("compact"), st.just([]), st.just(0)),
        st.tuples(st.just("checkpoint"), st.just([]), st.just(0)),
    )

    counter = [0]

    @given(ops=st.lists(op, min_size=1, max_size=5))
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(ops):
        counter[0] += 1
        root = str(tmp_path / f"prop_{counter[0]}")
        model: dict[int, int] = {0: 7}
        txlog_create(
            spark,
            root,
            spark.createDataFrame([(0, 7)], "k long, v long"),
            stats_cols=["k"],
        )
        snap_version, snap_model = txlog_versions(root)[-1], dict(model)
        next_key = [1000]  # appended keys never collide with upserts

        def frame(pairs):
            return spark.createDataFrame(list(pairs), "k long, v long")

        for kind, ks, v in ops:
            if kind == "append":
                fresh = [(next_key[0] + i, v) for i in range(len(ks))]
                next_key[0] += len(ks)
                txlog_append(spark, root, frame(fresh))
                model.update(dict(fresh))
            elif kind == "upsert":
                pairs = sorted({k: v for k in ks}.items())
                txlog_upsert(spark, root, frame(pairs), ["k"])
                model.update(dict(pairs))
            elif kind == "compact":
                txlog_compact(spark, root, files=1)
            else:
                txlog_checkpoint(root)
            if len(model) > len(snap_model):  # remember a mid point
                snap_version = txlog_versions(root)[-1]
                snap_model = dict(model)

        def as_dict(df):
            return {r["k"]: r["v"] for r in df.collect()}

        latest = txlog_read(spark, root)
        assert as_dict(latest) == model
        assert latest.count() == len(model)  # upserts never dup keys
        assert as_dict(
            txlog_read(spark, root, version=snap_version)
        ) == snap_model
        txlog_vacuum(root, retain_versions=1)
        assert as_dict(txlog_read(spark, root)) == model

    run()


def test_vacuum_reclaims_history_and_orphans(spark, table, tmp_path):
    root, base = table
    updates = base.limit(20).withColumn("o_totalprice", F.lit(0.0))
    txlog_upsert(spark, root, updates, ["o_orderkey"])
    # plant an orphan from a lost commit race (data written, manifest
    # never created)
    orphan_dir = os.path.join(root, "_data", "deadbeef0000")
    os.makedirs(orphan_dir)
    open(os.path.join(orphan_dir, "part-orphan.parquet"), "w").close()
    n_latest = txlog_read(spark, root).count()
    deleted = txlog_vacuum(root, retain_versions=1)
    assert deleted > 0
    assert not os.path.exists(orphan_dir)
    assert txlog_read(spark, root).count() == n_latest  # latest intact


def test_pruned_read_skips_vacuum_sweep(spark, tmp_path, sf_dir):
    """A time-travel read whose stats window prunes away every
    vacuumed file must succeed: the existence sweep runs AFTER the
    skip-filters, so only files the scan will actually open are
    checked (ADVICE r10). Layout: version 1 is range-clustered on
    o_orderkey into 4 files; the upsert rewrites only the low-key
    file, so after vacuum the v1 manifest's other three files are
    still live-and-present and a prune to their key range reads
    cleanly."""
    from mapreduceapp_spark.sources.txlog import TxVacuumedVersion

    root = str(tmp_path / "tx")
    base = _orders(spark, sf_dir)
    txlog_create(spark, root, base, stats_cols=["o_orderkey"], files=4)
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    updates = base.filter(F.col("o_orderkey") == lo).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    txlog_upsert(spark, root, updates, ["o_orderkey"])
    txlog_vacuum(root, retain_versions=1)
    # unpruned time travel still fails fast (the rewritten file is gone)
    with pytest.raises(TxVacuumedVersion):
        txlog_read(spark, root, version=1)
    # pruned to a window that excludes the vacuumed file: succeeds,
    # and matches the same window read from the latest version
    hi = base.agg(F.max("o_orderkey")).collect()[0][0]
    window = (hi - (hi - lo) // 4, hi)
    got = (
        txlog_read(spark, root, version=1, prune={"o_orderkey": window})
        .filter(F.col("o_orderkey").between(*window))
        .count()
    )
    want = (
        txlog_read(spark, root)
        .filter(F.col("o_orderkey").between(*window))
        .count()
    )
    assert got == want > 0


def test_ledger_memo_invalidated_by_table_recreate(spark, tmp_path, sf_dir):
    """Drop + recreate a table at the same path, then drive the NEW
    log to the same version count within one process: the ledger must
    NOT serve the dead table's batch ids (which would silently skip
    replayed batches). Pinned via the creation-uuid memo key
    (ADVICE r10 — the shrink check alone misses same-or-higher
    version counts)."""
    import shutil

    root = str(tmp_path / "tx")
    base = _orders(spark, sf_dir).limit(50)
    txlog_create(spark, root, base)
    txlog_append(spark, root, base, txn=("app-x", 7))
    assert txlog_committed_batches(root, "app-x") == {7}  # memo primed
    shutil.rmtree(root)
    txlog_create(spark, root, base)
    txlog_append(spark, root, base)  # same version count as before (2)
    assert txlog_committed_batches(root, "app-x") == set()
    # and the new table's own commits are tracked independently
    txlog_append(spark, root, base, txn=("app-x", 9))
    assert txlog_committed_batches(root, "app-x") == {9}


def test_read_after_vacuum_fails_fast_with_named_error(spark, table):
    """Time travel to a vacuumed version must raise the NAMED error
    at txlog_read time — naming the missing files — not a raw
    FileNotFound from an executor mid-scan (VERDICT r9 'Missing' #3).
    The latest version stays readable."""
    from mapreduceapp_spark.sources.txlog import TxVacuumedVersion

    root, base = table
    updates = base.limit(10).withColumn("o_totalprice", F.lit(0.0))
    txlog_upsert(spark, root, updates, ["o_orderkey"])
    txlog_vacuum(root, retain_versions=1)
    with pytest.raises(TxVacuumedVersion) as exc:
        txlog_read(spark, root, version=1)
    assert "vacuumed" in str(exc.value)
    assert "_data/" in str(exc.value)  # names the missing files
    assert txlog_read(spark, root).count() > 0


def test_compact_zorder_multi_column_skipping(spark, sf_dir, tmp_path):
    """OPTIMIZE ZORDER: compaction with zorder_cols lays the rewrite
    out on a Morton curve, so a selective range on EITHER column
    overlaps a strict minority of the compacted files' min/max
    windows — the multi-dimension skipping a single-column range
    cluster cannot give. Rows and history stay identical."""
    import pyarrow.parquet as pq

    from mapreduceapp_spark.sources.txlog import (
        txlog_compact,
        txlog_create,
        txlog_read,
        txlog_versions,
        _live_files,
    )

    root = str(tmp_path / "tx")
    base = _orders(spark, sf_dir)
    n0 = base.count()
    txlog_create(spark, root, base, stats_cols=["o_orderkey"], files=8)
    v = txlog_compact(
        spark, root, small_bytes=1 << 40, files=8,
        zorder_cols=["o_orderkey", "o_custkey"],
    )
    assert v == 2
    assert txlog_read(spark, root).count() == n0
    assert txlog_read(spark, root, version=1).count() == n0  # history

    # per-file min/max from footers on BOTH curve columns
    live = sorted(_live_files(root, v)[0])
    spans: dict[str, list[tuple]] = {"o_orderkey": [], "o_custkey": []}
    for rel in live:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for col in spans:
            i = names.index(col)
            lo = min(md.row_group(r).column(i).statistics.min
                     for r in range(md.num_row_groups))
            hi = max(md.row_group(r).column(i).statistics.max
                     for r in range(md.num_row_groups))
            spans[col].append((lo, hi))
    assert len(live) >= 6  # enough files for the overlap test to mean much
    for col, ss in spans.items():
        glo = min(lo for lo, _ in ss)
        ghi = max(hi for _, hi in ss)
        width = (ghi - glo) / 8 or 1
        probe = (glo + 3 * width, glo + 4 * width)  # middle 1/8 range
        overlapping = sum(
            1 for lo, hi in ss if not (hi < probe[0] or lo > probe[1])
        )
        assert overlapping < len(ss), (col, overlapping, len(ss))
