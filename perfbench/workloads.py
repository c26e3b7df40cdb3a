"""The benchmark's workloads. Each runs as a closed loop of passes on
one client: the next operation starts when the previous one ends.

- ``dataprep``: the LLM data-prep pipeline in dependency order, every
  pass from empty stage slots. Builders, staging, the band, winnow
  and ANN indexes and the Arrow Python workers dominate it.
- ``txlog_cdc``: CDC upserts and deletes, a streaming documents ingest
  and compaction on the txlog table format, with reads in between.
  The only workload that writes and the only one that streams.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen
from harness import Session, dir_bytes

# Dependency order: signatures and bands first, then what reads them.
# One query per layer of the pipeline: MinHash signatures and bands,
# the band index, the winnow index, exact kNN, the ANN index and the
# map-reduce Python workers.
DATAPREP = (
    "q_minhash_neardup", "q_dedup_index_probe", "q_winnowing_indexed",
    "q_knn_cosine", "q_ann_index_probe", "q_mr_charcount",
)


class Workload:
    """Inputs are generated by ``prepare``, ``warmup`` runs untimed,
    ``run_pass`` is one timed pass and keeps what the checks need,
    ``verify`` returns the failed checks."""

    name = ""
    sf = 0.01
    user_bytes = 0  # bytes of user rows committed to tables

    def __init__(self, s: Session, seed: int) -> None:
        self.s = s
        self.seed = seed
        self.data = ""

    def prepare(self) -> None:
        self.data = self.s.box.path("data")
        datagen.generate(self.data, self.seed, self.sf)

    def warmup(self) -> None:
        raise NotImplementedError

    def run_pass(self, pass_no: int) -> None:
        raise NotImplementedError

    def verify(self) -> dict[str, str]:
        raise NotImplementedError

    def counters(self, passes: int) -> dict[str, float]:
        """Layer counters at the end of ``passes`` timed passes."""
        return {}

    def table_bytes(self) -> tuple[int, int]:
        """(bytes, parquet files) of the tables the workload writes."""
        return 0, 0


class Dataprep(Workload):
    """Every pass reads the inputs under a new path, so it starts from
    empty stage slots and builder memos, as a new pipeline process
    would. The first timed pass is also the session's first: a new
    process pays its Python worker start and JIT warm-up too, and
    warming up until the pass time is steady takes three more passes,
    which a run has no time for (see README). Passes collect their
    rows; the first pass's are checked."""

    name = "dataprep"

    def __init__(self, s: Session, seed: int) -> None:
        super().__init__(s, seed)
        self.results: dict[str, tuple] = {}
        self.check_dir = ""
        self.cold_writes = 0

    def _fresh_copy(self, tag: str) -> str:
        """The inputs under a new path: every staged slot and builder
        memo is keyed by it."""
        d = self.s.box.path(tag)
        os.makedirs(d)
        for f in os.listdir(self.data):
            os.link(os.path.join(self.data, f), os.path.join(d, f))
        return d

    def _query(self, name: str, data: str, pass_no: int) -> tuple | None:
        """One timed query: the builder, then the collect of its
        DataFrame. Returns (columns, rows), or None if it raised."""
        from mapreduceapp_spark.plans.registry import get_query

        s = self.s
        out = None
        with s.op(name, "query", pass_no):
            with s.call("registry.build", "registry"):
                df = get_query(name).builder(s.spark, data)
            with s.call("operators.exec", "operators"):
                out = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def warmup(self) -> None:
        pass  # the first timed pass is the cold one

    def run_pass(self, pass_no: int) -> None:
        from mapreduceapp_spark.plans import staging

        d = self._fresh_copy(f"pass{pass_no}")
        w0 = staging.WRITE_COUNT
        first = len(self.s.ops)
        rows = {name: self._query(name, d, pass_no)
                for name in DATAPREP}
        writes = staging.WRITE_COUNT - w0
        if not self.check_dir:
            self.check_dir, self.cold_writes = d, writes
            self.results = {k: v for k, v in rows.items() if v is not None}
        elif writes < self.cold_writes:
            # slots survived from an earlier pass: this pass ran warm
            for o in self.s.ops[first:]:
                o.ok = False

    def verify(self) -> dict[str, str]:
        bad = checks.check_queries(self.results, self.check_dir)
        if self.cold_writes == 0:
            bad["staging"] = "the first pass staged nothing"
        return bad


class TxlogCdc(Workload):
    """Each pass is one CDC round: an upsert (recent-biased updates
    plus inserts) and a delete, four reads (snapshot aggregate, pruned
    point read, time travel, change feed), a streaming ingest of newly
    dropped documents and a compaction back to ``files``
    range-clustered files, then the four reads again. Every pass runs
    the same operations, so pass times compare. Recent-biased keys
    keep most files out of each rewrite and each point read, as stats
    pruning intends."""

    name = "txlog_cdc"
    n_update, n_insert, n_delete, n_docs = 150, 50, 40, 100
    files = 8  # range-clustered data files after create and compaction

    def __init__(self, s: Session, seed: int) -> None:
        super().__init__(s, seed)
        self.rng = np.random.default_rng(seed + 1)
        self.commits: list[tuple] = []  # (version, kind, arrow table)
        self.reads: list[tuple] = []  # (op, kind, version, arg, cols, rows)
        self.drops: list[str] = []
        self.streams: list[dict] = []
        self.user_bytes = 0

    def prepare(self) -> None:
        from mapreduceapp_spark.sources.txlog import txlog_create
        from mapreduceapp_spark.streaming.ingest import curate_documents

        super().prepare()
        spark = self.s.spark
        self.root = self.s.box.path("orders")
        self.curated = self.s.box.path("curated")
        self.drop_dir = self.s.box.path("drops")
        self.ckpt = self.s.box.path("ckpt")
        os.makedirs(self.drop_dir)
        orders = spark.read.parquet(os.path.join(self.data, "orders.parquet"))
        self.schema = orders.schema
        self.n_cust = datagen.sizes(self.sf)["customer"]
        self.max_key = datagen.sizes(self.sf)["orders"] - 1
        v = txlog_create(spark, self.root, orders, stats_cols=["o_orderkey"],
                         bloom_cols=["o_custkey"], files=self.files)
        self.versions = [v]
        self.commits = [(v, "create", None)]
        self.drops = []
        self.next_doc = 1_000_000
        first = self._drop(stream=False)
        self.doc_schema = spark.read.parquet(first).schema
        txlog_create(spark, self.curated,
                     curate_documents(spark.read.parquet(first)),
                     stats_cols=["doc_id"])

    def _drop(self, stream: bool = True) -> str:
        """A new documents file, in the stream's source directory unless
        it seeds the table."""
        t = datagen.documents_table(self.rng, self.n_docs, self.next_doc, pii=True)
        self.next_doc += self.n_docs
        name = f"drop-{len(self.drops):05d}.parquet"
        path = os.path.join(self.drop_dir if stream else self.data, name)
        tmp = self.s.box.path("tmp", name)
        pq.write_table(t, tmp)
        os.replace(tmp, path)
        self.drops.append(path)
        self.user_bytes += t.nbytes
        return path

    def warmup(self) -> None:
        self.run_pass(-1)
        self.user_bytes = 0
        self.streams = []

    def _read(self, kind: str, pass_no: int, version, arg, make) -> None:
        from pyspark.sql import functions as F

        s = self.s
        with s.op(f"read.{kind}", "query", pass_no) as o:
            with s.call("txlog.read_plan", "txlog"):
                df = make()
            with s.call("txlog.read_exec", "txlog"):
                if kind == "point":
                    out = df.where(F.col("o_orderkey") == arg)
                elif kind == "changes":
                    out = df.groupBy("_change_type").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                        .alias("cents"))
                else:
                    out = df.groupBy("o_orderstatus").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                        .alias("cents"),
                        F.max("o_orderkey").alias("max_key"))
                rows = [tuple(r) for r in out.collect()]
            self.reads.append((o, kind, version, arg, out.columns, rows))

    def _commit(self, version: int, kind: str, table) -> None:
        self.versions.append(version)
        self.commits.append((version, kind, table))
        if table is not None:
            self.user_bytes += table.nbytes

    def run_pass(self, pass_no: int) -> None:
        from mapreduceapp_spark.sources.txlog import (
            txlog_compact, txlog_delete, txlog_upsert,
        )
        from mapreduceapp_spark.streaming.ingest import curated_ingest_stream

        s, spark = self.s, self.s.spark
        v_start = self.versions[-1]

        with s.op("upsert", "commit", pass_no):
            with s.call("client.input", "client"):
                batch = datagen.cdc_updates(self.rng, self.max_key, self.n_update,
                                            self.n_insert, self.n_cust)
                df = spark.createDataFrame(batch.to_pylist(), self.schema)
            with s.call("txlog.upsert", "txlog"):
                v = txlog_upsert(spark, self.root, df, ["o_orderkey"])
            self._commit(v, "upsert", batch)
            self.max_key += self.n_insert

        with s.op("delete", "commit", pass_no):
            with s.call("client.input", "client"):
                keys = pa.table({"o_orderkey": datagen.delete_keys(
                    self.rng, self.max_key, self.n_delete)})
                kdf = spark.createDataFrame(keys.to_pylist(), "o_orderkey long")
            with s.call("txlog.delete", "txlog"):
                v = txlog_delete(spark, self.root, kdf, ["o_orderkey"])
            if v != self.versions[-1]:
                self._commit(v, "delete", keys)

        self._reads(pass_no, v_start)

        with s.op("ingest", "commit", pass_no):
            with s.call("client.drop", "client"):
                self._drop()
            with s.call("streaming.ingest", "streaming"):
                stream = spark.readStream.schema(self.doc_schema).parquet(self.drop_dir)
                q = curated_ingest_stream(spark, stream, self.curated, self.ckpt)
                q.awaitTermination()
                self.streams.extend(q.recentProgress)

        with s.op("compact", "commit", pass_no):
            with s.call("txlog.compact", "txlog"):
                v = txlog_compact(spark, self.root, files=self.files)
            if v is not None:
                self._commit(v, "compact", None)
        self._reads(pass_no, v_start)

    def _reads(self, pass_no: int, v_start: int) -> None:
        """The four reads: snapshot aggregate, pruned point read, time
        travel three commits back and the change feed since
        ``v_start``."""
        from mapreduceapp_spark.sources.txlog import txlog_changes, txlog_read

        spark = self.s.spark
        v_now = self.versions[-1]
        key = int(self.max_key - self.rng.geometric(0.01) % self.max_key)
        tt = self.versions[max(0, len(self.versions) - 4)]
        self._read("snapshot", pass_no, v_now, None,
                   lambda: txlog_read(spark, self.root))
        self._read("point", pass_no, v_now, key,
                   lambda: txlog_read(spark, self.root,
                                      prune={"o_orderkey": (key, key)}))
        self._read("time_travel", pass_no, tt, None,
                   lambda: txlog_read(spark, self.root, version=tt))
        self._read("changes", pass_no, (v_start, v_now), None,
                   lambda: txlog_changes(spark, self.root, v_start, v_now))

    def verify(self) -> dict[str, str]:
        """Replays every commit on the DuckDB model and compares each
        read, then the curated table against the model of the drops.
        A failed read marks its operation failed."""
        from mapreduceapp_spark.sources.txlog import txlog_read

        model = checks.OrdersModel(os.path.join(self.data, "orders.parquet"))
        want: dict[int, set] = {}
        for _, kind, version, arg, _, _ in self.reads:
            if kind == "changes":
                want.setdefault(version[0], set()).add(None)
                want.setdefault(version[1], set()).add(None)
            else:
                want.setdefault(version, set()).add(arg)
        expect: dict[tuple, tuple] = {}
        try:
            for version, kind, table in self.commits:
                if kind == "upsert":
                    model.upsert(table)
                elif kind == "delete":
                    model.delete(table)
                for arg in want.get(version, ()):
                    expect[version, arg] = (
                        model.aggregate() if arg is None else model.row(arg))
        finally:
            model.close()

        bad: dict[str, str] = {}
        for o, kind, version, arg, cols, rows in self.reads:
            if kind == "changes":
                why = _changes_mismatch(rows, expect[version[0], None][1],
                                        expect[version[1], None][1])
            else:
                ecols, erows = expect[version, arg]
                why = checks.mismatch(cols, rows, ecols, erows)
            if why:
                o.ok = False
                bad[f"read.{kind}@{version}"] = why
        got = txlog_read(self.s.spark, self.curated)
        why = checks.mismatch(got.columns, [tuple(r) for r in got.collect()],
                              *checks.curated_model(self.drops))
        if why:
            bad["ingest"] = f"curated table: {why}"
        return bad

    def counters(self, passes: int) -> dict[str, float]:
        from mapreduceapp_spark.sources.txlog import txlog_read

        spark = self.s.spark
        orders = txlog_read(spark, self.root).inputFiles()
        live = orders + txlog_read(spark, self.curated).inputFiles()
        live_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in live)
        key = self.max_key - 1
        pruned = txlog_read(spark, self.root, prune={"o_orderkey": (key, key)})
        rows = sum(p["numInputRows"] for p in self.streams)
        secs = sum(p["durationMs"].get("triggerExecution", 0) for p in self.streams)
        return {
            "txlog.live_files": len(live),
            "txlog.space_amp": self.table_bytes()[0] / live_bytes,
            "txlog.prune_ratio": len(pruned.inputFiles()) / len(orders),
            "streaming.batches": sum(1 for p in self.streams if p["numInputRows"])
            / passes,
            "streaming.rows_per_s": rows / (secs / 1000) if secs else 0.0,
        }

    def table_bytes(self) -> tuple[int, int]:
        """(bytes, parquet files) under both table roots."""
        files = 0
        for root in (self.root, self.curated):
            for _, _, names in os.walk(root):
                files += sum(n.endswith(".parquet") for n in names)
        return dir_bytes(self.root) + dir_bytes(self.curated), files


def _changes_mismatch(rows, before, after) -> str | None:
    """A file-granular change feed folds to the snapshot difference:
    inserted minus deleted rows equals after minus before, in count
    and in summed cents."""
    n = {k: 0 for k in ("insert", "delete")}
    cents = dict(n)
    for kind, cnt, c in rows:
        n[kind], cents[kind] = cnt, c or 0
    dn = sum(r[1] for r in after) - sum(r[1] for r in before)
    dc = sum(r[2] for r in after) - sum(r[2] for r in before)
    if n["insert"] - n["delete"] != dn or cents["insert"] - cents["delete"] != dc:
        return (f"feed +{n['insert']}/-{n['delete']} rows, "
                f"snapshots differ by {dn} rows / {dc} cents")
    return None


WORKLOADS = {w.name: w for w in (Dataprep, TxlogCdc)}

