"""TxLog — a snapshot-isolated table format over plain parquet.

``merge_upsert_parquet`` (formats.py) is the single-writer merge
primitive; its docstring names the rung above it: concurrent writers
need a TRANSACTION LOG. This module is that rung, the lakehouse
pattern published in the Delta Lake paper (Armbrust et al., VLDB
2020) re-built minimally on files Spark already writes:

    table_root/
      _txlog/00000000000000000001.json   one manifest per version
      _data/<token>/part-*.parquet       one directory per commit

A manifest is the COMMIT: it lists the data files the version adds
and removes (paths relative to the root), per-file row counts and
min/max stats for declared columns, the version's columns, the
snapshot version the writer read, and an optional (app, batch)
idempotency key. Readers replay manifests; writers race to create the
next manifest file.

Why each piece is the way it is:

- **Atomic commit = exclusive manifest create.** ``open(path, "x")``
  is O_CREAT|O_EXCL — exactly one of two racing writers creates
  version N; the loser re-reads the log, re-validates, and retries at
  N+1. On an object store the same protocol needs a conditional PUT
  (if-none-match) or a log service; the manifest schema is unchanged.
- **Snapshot isolation for free.** Data files are immutable and
  never deleted by commits — an upsert REMOVES files from the live
  set and ADDS rewritten ones, so every historical version stays
  readable (time travel) until ``txlog_vacuum`` reclaims it.
- **Optimistic concurrency, file-granular.** A commit that removes
  files validates, after losing a race, that no intervening commit
  removed any of the same files (write-write conflict on the same
  rows' storage → ``TxConflict``); pure appends never conflict and
  auto-retry. This is the Delta/Iceberg conflict rule at its
  coarsest useful granularity.
- **Manifest-level data skipping.** Commits record per-file min/max
  (from the parquet footers Spark already wrote) for the table's
  declared stats columns; ``txlog_read`` prunes the FILE LIST
  against a predicate range before Spark ever lists a directory. At
  100 TB this is the difference between "open 2 of 40,000 files"
  and a full listing — and correctness never depends on it (the
  stats columns are physically present in every file; pruning is
  pure I/O avoidance, tested by result-equality with it disabled).
- **The log carries the schema.** Every manifest records the table's
  declared columns as of its commit (name → Spark type JSON, copied
  from ``_table.json``'s ``types``), so a read of version N scans its
  files with version N's schema and never runs a footer-inference
  job; after additive evolution, older versions keep their narrower
  column list. Tables created before ``types`` existed write no
  columns and keep the mergeSchema read.
- **Exactly-once streaming.** ``txlog_foreach_batch_append`` stamps
  each commit with (app, batch_id); a replayed micro-batch (the
  foreachBatch at-least-once contract after a failure) finds its
  batch_id already committed and becomes a no-op, upgrading the sink
  to exactly-once — the same idempotent-commit trick Delta's
  ``txnAppId``/``txnVersion`` API exposes.

The reference has no storage layer at all (its phase outputs are
process-memory vectors, ``MapReduceFramework.cpp:140``); this module
is the durable, concurrent analog its outputs would need on a
cluster.
"""

from __future__ import annotations

import json
import os
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mapreduceapp_spark.plans.hints import broadcast_if_small
from mapreduceapp_spark.plans.registry import register

_LOG_DIR = "_txlog"
_DATA_DIR = "_data"
_MANIFEST_WIDTH = 20


class TxConflict(RuntimeError):
    """A concurrent commit removed files this transaction also
    removes — the optimistic write-write conflict. Re-read and
    re-derive the update against the new snapshot to proceed."""


class TxVacuumedVersion(FileNotFoundError):
    """The requested snapshot references data files that vacuum has
    reclaimed — time travel past the retention horizon. Raised at
    ``txlog_read`` time with the missing files named, instead of the
    raw mid-scan FileNotFound Spark would otherwise surface when an
    executor first opens the hole."""


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG_DIR)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:0{_MANIFEST_WIDTH}d}.json")


def txlog_versions(root: str) -> list[int]:
    """Committed versions, ascending. Empty list = no table."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[: -len(".json")])
        for f in os.listdir(d)
        if f.endswith(".json") and f[: -len(".json")].isdigit()
    )


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as fh:
        return json.load(fh)


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(
        _log_dir(root), f"{version:0{_MANIFEST_WIDTH}d}.checkpoint.json"
    )


def _latest_checkpoint(root: str, version: int) -> tuple[int, dict] | None:
    """Newest checkpoint at or below ``version``, if any."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return None
    suffix = ".checkpoint.json"
    best = None
    for f in os.listdir(d):
        if f.endswith(suffix) and f[: -len(suffix)].isdigit():
            v = int(f[: -len(suffix)])
            if v <= version and (best is None or v > best):
                best = v
    if best is None:
        return None
    with open(_checkpoint_path(root, best)) as fh:
        return best, json.load(fh)


def txlog_checkpoint(root: str) -> int:
    """Write a consolidated live-set snapshot for the current
    version, so later readers replay O(tail) manifests instead of
    O(commits). The checkpoint is derivative state — written AFTER
    its version exists, safe to regenerate, never the publish itself
    (exactly the published formats' checkpoint contract). Returns the
    checkpointed version."""
    version = txlog_versions(root)[-1]
    live, columns = _live_files(root, version)
    tmp = _checkpoint_path(root, version) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "live": live, "columns": columns}, fh)
    os.replace(tmp, _checkpoint_path(root, version))
    return version


def _live_files(
    root: str, version: int
) -> tuple[dict[str, dict], dict[str, object] | None]:
    """Live set and columns at ``version``: newest checkpoint ≤
    version, plus a replay of the manifest tail after it. The columns
    are those of the newest manifest replayed (None when it predates
    the field)."""
    live: dict[str, dict] = {}
    columns = None
    start = 0
    ckpt = _latest_checkpoint(root, version)
    if ckpt is not None:
        start, snap = ckpt
        live = dict(snap["live"])
        columns = snap.get("columns")
    for v in txlog_versions(root):
        if v <= start:
            continue
        if v > version:
            break
        m = _read_manifest(root, v)
        for rel in m["removes"]:
            live.pop(rel, None)
        for add in m["adds"]:
            live[add["path"]] = add
        columns = m.get("columns")
    return live, columns


# File-level bloom filters: 8192 bits (1 KiB hex in the manifest) and
# 4 probes per value. Sized for the "many small-to-mid files" regime
# compaction maintains: at ~50k distinct keys/file the fill rate is
# ~1-bit-in-4 and the false-open rate ~2% — a missing key opens ~2%
# of files instead of all of them.
_BLOOM_BITS = 8192
_BLOOM_K = 4


def _bloom_positions(value) -> list[int]:
    """k bit positions for a value — blake2b-derived, so identical
    across processes and Python hash randomization. Values hash by
    canonical string form: collisions across types inside one typed
    column cannot occur, and a false positive only costs a file
    open."""
    import hashlib

    h = hashlib.blake2b(str(value).encode(), digest_size=16).digest()
    n = int.from_bytes(h, "big")
    return [
        (n >> (i * 13)) % _BLOOM_BITS for i in range(_BLOOM_K)
    ]


def _bloom_hex(values) -> str:
    bits = bytearray(_BLOOM_BITS // 8)
    for v in values:
        if v is None:
            continue
        for p in _bloom_positions(v):
            bits[p // 8] |= 1 << (p % 8)
    return bytes(bits).hex()


def _bloom_may_contain(hex_bits: str, value) -> bool:
    bits = bytes.fromhex(hex_bits)
    return all(
        bits[p // 8] & (1 << (p % 8)) for p in _bloom_positions(value)
    )


def _write_data(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    stats_cols: list[str],
    files: int | None = None,
    bloom_cols: list[str] | None = None,
    pre_arranged: bool = False,
) -> list[dict]:
    """Write ``df`` into a fresh commit directory and return its add
    entries (path, rows, per-stats-col min/max from the footers).

    The directory name is a random token, NOT the version — the
    version isn't known until the manifest race is won, and a loser's
    orphaned directory is reclaimed by vacuum. Rows are range-
    clustered on the first stats column so per-file min/max windows
    are tight (the whole point of recording them)."""
    import pyarrow.parquet as pq

    token = uuid.uuid4().hex[:12]
    out = os.path.join(root, _DATA_DIR, token)
    w = df
    if pre_arranged:
        pass  # caller already clustered (e.g. z-order compaction)
    elif files == 1:
        # single-file commit (the streaming-sink fast path): a range
        # shuffle clusters rows ACROSS files, so with one file it buys
        # nothing — min/max of the whole file is exact whatever the
        # internal order — while costing a sampling job + shuffle per
        # micro-batch. coalesce is a plan-only narrowing.
        w = df.coalesce(1)
    elif stats_cols and not df.isStreaming:
        # files=None lets AQE size the range shuffle from the data
        # (the cluster default); an explicit count pins the layout
        w = (
            df.repartitionByRange(files, F.col(stats_cols[0]))
            if files
            else df.repartitionByRange(F.col(stats_cols[0]))
        )
    w.write.mode("error").parquet(out)

    adds = []
    for fname in sorted(os.listdir(out)):
        if not fname.endswith(".parquet"):
            continue
        fpath = os.path.join(out, fname)
        md = pq.ParquetFile(fpath).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        stats: dict[str, list] = {}
        for c in stats_cols:
            idx = names.index(c)
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx).statistics
                if s is None or not s.has_min_max:
                    lo, hi = None, None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                stats[c] = [_json_safe(lo), _json_safe(hi)]
        entry = {
            "path": os.path.join(_DATA_DIR, token, fname),
            "rows": md.num_rows,
            "stats": stats,
        }
        if bloom_cols:
            # one column re-read per file at WRITE time buys
            # point-lookup skipping on columns min/max can't serve
            # (anything not range-clustered) — the standard
            # write-amplification-for-read-skipping trade
            tbl = pq.read_table(fpath, columns=list(bloom_cols))
            entry["bloom"] = {
                c: _bloom_hex(tbl.column(c).to_pylist()) for c in bloom_cols
            }
        adds.append(entry)
    return adds


def _json_safe(v):
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
        return str(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _commit(
    root: str,
    adds: list[dict],
    removes: list[str],
    operation: str,
    read_version: int,
    txn: tuple[str, int] | None = None,
    txn_horizon: int = 0,
) -> int:
    """Race for the next manifest slot; returns the committed version.

    Retries transparently on lost races when the commit is
    conflict-free against the interleaved manifests; raises
    ``TxConflict`` when an interleaved commit removed any file this
    commit also removes. A commit carrying a ``txn`` idempotency key
    that finds an interleaved manifest with the SAME key returns that
    version as success WITHOUT committing — the zombie-writer case: a
    stalled driver and its restarted replacement both replay the same
    micro-batch, both pass the sink's ledger check before either
    commits, and without this rule the batch would land twice. The
    check-then-act hole is closed here, at the serialization point,
    because the sink's pre-check can never be atomic with the commit
    (our orphaned data files are reclaimed by vacuum, like any lost
    race's)."""
    os.makedirs(_log_dir(root), exist_ok=True)
    # validate every commit that landed after our snapshot read —
    # the data-write job above is long, and a writer that committed
    # during it never collides with our manifest create, so the
    # collision handler alone would miss it
    version = (txlog_versions(root) or [0])[-1] + 1
    columns = _table_meta(root).get("types")
    ours = set(removes)
    for v in txlog_versions(root):
        # txn duplicates are checked against every version the CALLER
        # has not already cleared: an append captures read_version
        # after its data write, so a concurrent same-txn commit can
        # land at or BELOW it — but never at or below ``txn_horizon``,
        # the newest version the caller's ledger pre-check covered
        # (manifests are immutable, so a cleared version stays clear).
        # Sinks pass their pre-check horizon, bounding the per-commit
        # dup scan to the manifests that landed since — O(new), not
        # O(log) per micro-batch. Remove-overlap conflicts only
        # matter past the snapshot read, as before.
        check_txn = txn is not None and v > txn_horizon
        check_conflict = bool(ours) and v > read_version
        if not (check_txn or check_conflict):
            continue
        m = _read_manifest(root, v)
        if check_txn and m.get("txn") == list(txn):
            return v
        if check_conflict and ours & set(m["removes"]):
            raise TxConflict(
                f"version {v} removed files this commit also removes; "
                f"re-derive against the new snapshot"
            )
    while True:
        manifest = {
            "version": version,
            "operation": operation,
            "read_version": read_version,
            "adds": adds,
            "removes": removes,
            "columns": columns,
            "txn": list(txn) if txn else None,
        }
        try:
            with open(_manifest_path(root, version), "x") as fh:
                json.dump(manifest, fh)
            return version
        except FileExistsError:
            # lost the race: validate against every commit that landed
            # since our snapshot, then retry at the next slot. Every
            # slot between our first attempt and the one we eventually
            # win is examined here, so an interleaved duplicate txn
            # cannot be skipped over.
            interleaved = _read_manifest(root, version)
            if txn is not None and interleaved.get("txn") == list(txn):
                return version
            if removes and set(removes) & set(interleaved["removes"]):
                raise TxConflict(
                    f"version {version} removed files this commit also "
                    f"removes; re-derive against the new snapshot"
                ) from None
            version += 1


def txlog_create(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    files: int | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Create the table (version 1) from ``df``. ``stats_cols``
    (min/max range skipping) and ``bloom_cols`` (point-lookup
    skipping) are recorded per file in every future manifest; they
    must be stable table metadata, so they are persisted in version 1
    and reused by later writers."""
    if txlog_versions(root):
        raise FileExistsError(f"txlog table already exists at {root}")
    stats_cols = stats_cols or []
    bloom_cols = bloom_cols or []
    adds = _write_data(
        spark, root, df, stats_cols, files=files, bloom_cols=bloom_cols
    )
    os.makedirs(_log_dir(root), exist_ok=True)
    meta = {
        # creation identity: a table dropped and recreated at the same
        # path gets a fresh uuid, so process-local caches keyed on it
        # (the streaming ledger memo) can never serve the dead table's
        # state even if the new log reaches the same version count
        "table_uuid": uuid.uuid4().hex,
        "stats_cols": stats_cols,
        "bloom_cols": bloom_cols,
        "columns": {f.name: f.dataType.simpleString() for f in df.schema},
        "types": _types(df),
    }
    with open(os.path.join(_log_dir(root), "_table.json"), "w") as fh:
        json.dump(meta, fh)
    return _commit(root, adds, [], "create", 0)


def _types(df: DataFrame) -> dict[str, object]:
    """Column name → Spark type as JSON: the form the log records, so
    a read rebuilds the exact schema (nested field names included)."""
    return {f.name: f.dataType.jsonValue() for f in df.schema}


def _scan(
    spark: SparkSession, paths: list[str], columns: dict[str, object] | None
) -> DataFrame:
    """Scan txlog data files with the columns the log recorded for the
    version being read. After additive evolution the files mix
    schemas; an explicit schema makes rows from pre-evolution files
    surface the new columns as nulls, and planning runs no Spark job.
    Logs whose manifests predate the ``columns`` field (``None``) fall
    back to a mergeSchema read, which runs one job over the footers of
    every selected file."""
    if columns is None:
        return spark.read.option("mergeSchema", "true").parquet(*paths)
    schema = StructType.fromJson({"fields": [
        {"name": name, "type": dtype, "nullable": True, "metadata": {}}
        for name, dtype in columns.items()
    ]})
    return spark.read.schema(schema).parquet(*paths)


class TxSchemaMismatch(TypeError):
    """A write's schema is incompatible with the table: a declared
    column is missing or has a different type, or it carries new
    columns without ``evolve=True``."""


def _validate_schema(root: str, df: DataFrame, evolve: bool) -> None:
    """Enforce the evolution contract: writes must carry every
    declared column at its declared type; NEW nullable columns are
    admitted only under ``evolve=True``, which widens the declared
    set (old files simply lack the column — readers scan with the
    version's recorded columns and surface nulls, the standard
    additive-evolution semantics; renames and type changes are
    rewrites, not evolution). The next commit copies the widened set
    into its manifest. The declared-column update is a plain meta
    rewrite: schema changes are table-admin operations, serialized by
    the pipeline owner, not racing commits."""
    meta = _table_meta(root)
    declared = meta.get("columns")
    if declared is None:  # pre-evolution table: nothing to enforce
        return
    have = {f.name: f.dataType.simpleString() for f in df.schema}
    missing = sorted(set(declared) - set(have))
    if missing:
        raise TxSchemaMismatch(f"write lacks declared columns {missing}")
    for name, dtype in declared.items():
        if have[name] != dtype:
            raise TxSchemaMismatch(
                f"column {name}: declared {dtype}, write has {have[name]}"
            )
    new = sorted(set(have) - set(declared))
    if new and not evolve:
        raise TxSchemaMismatch(
            f"write adds columns {new}; pass evolve=True to admit them"
        )
    if new:
        meta["columns"] = {**declared, **{c: have[c] for c in new}}
        if "types" in meta:
            types = _types(df)
            meta["types"] = {**meta["types"], **{c: types[c] for c in new}}
        with open(os.path.join(_log_dir(root), "_table.json"), "w") as fh:
            json.dump(meta, fh)


def _table_meta(root: str) -> dict:
    try:
        with open(os.path.join(_log_dir(root), "_table.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _stats_cols(root: str) -> list[str]:
    return _table_meta(root).get("stats_cols", [])


def _bloom_cols(root: str) -> list[str]:
    return _table_meta(root).get("bloom_cols", [])


def txlog_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    txn: tuple[str, int] | None = None,
    evolve: bool = False,
    files: int | None = None,
    txn_horizon: int = 0,
) -> int:
    """Append-only commit. Never conflicts — lost races retry.
    ``evolve=True`` admits NEW columns (additive schema evolution);
    declared columns are always required at their declared types.
    ``files=1`` is the micro-batch fast path: one coalesced file, no
    range shuffle (see _write_data) — compaction restores clustering
    on its own cadence. ``txn_horizon``: newest version the caller's
    ledger pre-check already cleared of this txn (bounds _commit's
    duplicate scan)."""
    _validate_schema(root, df, evolve)
    adds = _write_data(
        spark, root, df, _stats_cols(root), files=files,
        bloom_cols=_bloom_cols(root),
    )
    version = (txlog_versions(root) or [0])[-1]
    return _commit(
        root, adds, [], "append", version, txn=txn, txn_horizon=txn_horizon
    )


def txlog_read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
    point: dict[str, object] | None = None,
) -> DataFrame:
    """Scan the table at ``version`` (default: latest).

    ``prune`` maps a stats column to an inclusive (lo, hi) window
    (min/max skipping); ``point`` maps a bloom column to an exact
    value (bloom skipping — serves columns the layout is NOT
    range-clustered on, where every file's min/max window spans the
    domain). Files that cannot contain matching rows are dropped
    from the scan list BEFORE Spark touches storage. Both are I/O
    optimizations only — the predicate itself is NOT applied to rows
    (apply a .filter for that); results must be identical with them
    disabled over a filtered frame, which is how the tests pin it."""
    versions = txlog_versions(root)
    if not versions:
        raise FileNotFoundError(f"no txlog table at {root}")
    if version is not None and version > versions[-1]:
        # replaying manifests <= a nonexistent version would silently
        # return the newest snapshot under the wrong name (versions
        # below the latest may legitimately be absent from the list —
        # checkpointed-away manifests — so only the future is an error)
        raise FileNotFoundError(
            f"version {version} does not exist at {root} "
            f"(latest is {versions[-1]})"
        )
    v = versions[-1] if version is None else version
    live, columns = _live_files(root, v)
    selected = []
    for rel, add in sorted(live.items()):
        if prune and _skippable(add.get("stats", {}), prune):
            continue
        if point and _bloom_skippable(add.get("bloom", {}), point):
            continue
        selected.append(rel)
    # fail fast on time travel past the vacuum horizon: the scan list
    # is already in hand, so the existence sweep is one driver-side
    # stat per file — cheap next to opening the files in the scan,
    # and it turns a raw executor FileNotFound mid-scan into a
    # named error before any job starts. The sweep runs AFTER the
    # skip-filters: only files the scan will actually open are
    # checked, so a pruned read whose stats window excludes every
    # vacuumed file succeeds — as it can and did before the sweep
    # existed.
    vacuumed = sorted(
        rel for rel in selected
        if not os.path.exists(os.path.join(root, rel))
    )
    if vacuumed:
        raise TxVacuumedVersion(
            f"version {v} of {root} references {len(vacuumed)} vacuumed "
            f"file(s): {vacuumed[:5]}{'...' if len(vacuumed) > 5 else ''}; "
            f"time travel is bounded by the vacuum retention horizon"
        )
    if not selected:
        # preserve schema: scan one live file and return zero rows.
        # Prefer a file that still exists — a pruned-to-empty read of
        # a partially vacuumed version is still answerable.
        any_rel = next(
            (r for r in sorted(live)
             if os.path.exists(os.path.join(root, r))),
            None,
        )
        if any_rel is None:
            if live:
                raise TxVacuumedVersion(
                    f"version {v} of {root}: all {len(live)} file(s) "
                    f"vacuumed; time travel is bounded by the vacuum "
                    f"retention horizon"
                )
            raise FileNotFoundError(f"version {v} of {root} has no files")
        return _scan(spark, [os.path.join(root, any_rel)], columns).limit(0)
    return _scan(spark, [os.path.join(root, rel) for rel in selected], columns)


def _skippable(stats: dict[str, list], prune: dict[str, tuple]) -> bool:
    for col, (lo, hi) in prune.items():
        if col not in stats:
            return False  # no stats recorded → must read
        fmin, fmax = stats[col]
        if fmax < lo or fmin > hi:
            return True
    return False


def _bloom_skippable(bloom: dict[str, str], point: dict[str, object]) -> bool:
    for col, value in point.items():
        if col not in bloom:
            return False  # no bloom recorded → must read
        if not _bloom_may_contain(bloom[col], value):
            return True
    return False


def txlog_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: list[str],
    txn: tuple[str, int] | None = None,
    evolve: bool = False,
    txn_horizon: int = 0,
) -> int:
    """MERGE: replace rows matching ``updates`` on ``key_cols``,
    insert the rest — against the latest snapshot, atomically.
    ``evolve=True`` admits NEW columns; survivors from pre-evolution
    files surface them as nulls (unionByName with missing columns).

    Scale shape mirrors merge_upsert_parquet, upgraded from
    partition- to FILE-granular: the update batch's key range prunes
    the candidate file set via manifest stats, only candidate files'
    rows are read and anti-joined (broadcast — daily updates are the
    small side), and the rewrite touches exactly those files.
    Untouched files transfer to the new version by reference in the
    manifest replay — zero bytes moved. The anti-join survivors must
    be fully written BEFORE the commit manifest lands, so a reader
    never sees a half-version (the manifest IS the publish)."""
    _validate_schema(root, updates, evolve)
    versions = txlog_versions(root)
    read_version = versions[-1]
    live, columns = _live_files(root, read_version)
    stats_cols = _stats_cols(root)

    # one aggregate job serves both the file-pruning window and the
    # broadcast size gate — the count rides along for free when stats
    # are declared, and is the only job otherwise
    agg_exprs = [F.count(F.lit(1)).alias("n")]
    has_stats = bool(stats_cols) and stats_cols[0] in updates.columns
    if has_stats:
        agg_exprs += [
            F.min(stats_cols[0]).alias("lo"),
            F.max(stats_cols[0]).alias("hi"),
        ]
    row = updates.agg(*agg_exprs).collect()[0]
    n_updates = row["n"]

    candidates = list(sorted(live))
    if has_stats:
        window = {stats_cols[0]: (_json_safe(row["lo"]), _json_safe(row["hi"]))}
        candidates = [
            rel
            for rel in candidates
            if not _skippable(live[rel].get("stats", {}), window)
        ]
    if candidates:
        base = _scan(
            spark, [os.path.join(root, rel) for rel in candidates], columns
        )
        # CDC micro-batches broadcast; a bulk backfill through the
        # same API exceeds the key budget and anti-joins by shuffle
        # instead (plans/hints.py — replicating an unbounded key set
        # to every executor is the one way this MERGE could OOM)
        survivors = base.join(
            broadcast_if_small(updates.select(*key_cols), n_updates),
            key_cols, "left_anti",
        )
        # allowMissingColumns: after evolution, survivors read from
        # pre-evolution files lack the new columns — they union as
        # nulls, which is exactly additive-evolution semantics
        merged = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        merged = updates
    adds = _write_data(
        spark, root, merged, stats_cols, bloom_cols=_bloom_cols(root)
    )
    return _commit(
        root, adds, candidates, "upsert", read_version, txn=txn,
        txn_horizon=txn_horizon,
    )


def txlog_delete(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_cols: list[str],
    txn: tuple[str, int] | None = None,
) -> int:
    """DELETE by key set — the third CDC verb (upsert covers update +
    insert; a real change feed also carries deletes). Same shape as
    ``txlog_upsert``: the key batch's stats window prunes the
    candidate file set, only candidates' rows are read, survivors are
    rewritten (size-gated broadcast anti-join), untouched files
    transfer by manifest reference. Deleting every row of a candidate
    file adds nothing back — the file simply leaves the live set.
    Snapshot isolation, conflict detection, and the (app, batch_id)
    idempotency key all ride the same ``_commit``."""
    versions = txlog_versions(root)
    read_version = versions[-1]
    live, columns = _live_files(root, read_version)
    stats_cols = _stats_cols(root)

    agg_exprs = [F.count(F.lit(1)).alias("n")]
    has_stats = bool(stats_cols) and stats_cols[0] in keys.columns
    if has_stats:
        agg_exprs += [
            F.min(stats_cols[0]).alias("lo"),
            F.max(stats_cols[0]).alias("hi"),
        ]
    row = keys.agg(*agg_exprs).collect()[0]
    n_keys = row["n"]

    candidates = list(sorted(live))
    if has_stats:
        window = {stats_cols[0]: (_json_safe(row["lo"]), _json_safe(row["hi"]))}
        candidates = [
            rel
            for rel in candidates
            if not _skippable(live[rel].get("stats", {}), window)
        ]
    if not candidates:
        if txn is not None:
            # the batch still happened: an empty commit records the
            # (app, batch_id) in the ledger, or a replay loop keyed on
            # it would re-derive this delete forever (the idempotency
            # contract must hold on the no-op path too)
            return _commit(root, [], [], "delete", read_version, txn=txn)
        return read_version  # nothing can match: no-op, no commit
    base = _scan(
        spark, [os.path.join(root, rel) for rel in candidates], columns
    )
    survivors = base.join(
        broadcast_if_small(keys.select(*key_cols), n_keys),
        key_cols, "left_anti",
    )
    adds = _write_data(
        spark, root, survivors, stats_cols, bloom_cols=_bloom_cols(root)
    )
    return _commit(root, adds, candidates, "delete", read_version, txn=txn)


def txlog_scan_incremental(
    spark: SparkSession, root: str, since_version: int
) -> DataFrame:
    """Rows in files net-ADDED after ``since_version`` — the
    incremental-batch-consumer pattern: a nightly job remembers the
    version it last processed and scans only what landed since,
    never the table. Append-only producers (the streaming sinks) make
    this exact row-level increments; after an upsert it includes the
    rewritten files' survivor rows too — consumers that must
    distinguish fold ``txlog_changes`` by key instead (the
    q_txlog_changes pattern)."""
    latest = txlog_versions(root)[-1]
    feed = txlog_changes(spark, root, since_version, latest)
    return feed.where(F.col("_change_type") == "insert").drop(
        "_change_type"
    )


def txlog_changes(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> DataFrame:
    """Change feed between two snapshots: rows in files added in
    (v_from, v_to] tagged ``insert``, rows in files removed tagged
    ``delete`` — an update appears as its delete + insert pair, and
    a row rewritten verbatim (an upsert's unmatched neighbor in the
    same file) cancels out for any consumer that folds by key. File-
    granular CDC is what the log can answer WITHOUT persisting row
    diffs; exact row CDC is a key-join of the two snapshots, which
    the caller can build from two txlog_read calls.

    Both sides scan with ``v_to``'s columns, so across additive
    evolution the deleted pre-evolution rows surface the new columns
    as nulls and the two sides union by name."""
    added: list[str] = []
    removed: list[str] = []
    columns = None
    for v in txlog_versions(root):
        if v_from < v <= v_to:
            m = _read_manifest(root, v)
            added += [a["path"] for a in m["adds"]]
            removed += m["removes"]
            columns = m.get("columns")
    # a file added then removed inside the window contributed nothing
    net_added = [p for p in added if p not in set(removed)]
    net_removed = [p for p in removed if p not in set(added)]

    def scan(paths: list[str], tag: str) -> DataFrame | None:
        if not paths:
            return None
        df = _scan(spark, [os.path.join(root, p) for p in paths], columns)
        return df.withColumn("_change_type", F.lit(tag))

    ins = scan(net_added, "insert")
    dels = scan(net_removed, "delete")
    if ins is None and dels is None:
        live = txlog_read(spark, root, v_to).limit(0)
        return live.withColumn("_change_type", F.lit(""))
    if ins is None:
        return dels
    if dels is None:
        return ins
    return ins.unionByName(dels)


def txlog_vacuum(root: str, retain_versions: int = 1) -> int:
    """Delete data files unreachable from the newest
    ``retain_versions`` snapshots (including orphans from lost
    commit races); returns the number deleted. Time travel older
    than the retention horizon dies here — the documented trade, as
    in any lakehouse format."""
    versions = txlog_versions(root)
    keep: set[str] = set()
    for v in versions[-retain_versions:]:
        keep |= set(_live_files(root, v)[0])
    deleted = 0
    data_root = os.path.join(root, _DATA_DIR)
    for token in sorted(os.listdir(data_root)):
        tdir = os.path.join(data_root, token)
        for fname in sorted(os.listdir(tdir)):
            rel = os.path.join(_DATA_DIR, token, fname)
            if fname.endswith(".parquet") and rel not in keep:
                os.remove(os.path.join(tdir, fname))
                deleted += 1
        if not any(f.endswith(".parquet") for f in os.listdir(tdir)):
            import shutil

            shutil.rmtree(tdir, ignore_errors=True)
    return deleted


def txlog_compact(
    spark: SparkSession,
    root: str,
    small_bytes: int = 32 * 1024 * 1024,
    files: int | None = None,
    zorder_cols: list[str] | None = None,
) -> int | None:
    """Rewrite the live files smaller than ``small_bytes`` into fewer
    well-clustered ones, as a normal commit (removes the smalls,
    adds the compacted) — rows identical, history intact, and the
    natural moment to ``txlog_checkpoint``. Streaming ingest is the
    canonical producer of the problem: one micro-batch = one commit =
    a handful of small files; nightly compaction folds a day of
    batches into scan-efficient files. Returns the new version, or
    None when fewer than two files qualify (compaction would be a
    rename).

    ``zorder_cols`` switches the rewrite's layout from the default
    single-column range clustering (the table's first stats column)
    to a Z-curve over SEVERAL columns — the OPTIMIZE ZORDER BY verb
    of the published formats, reusing the engine's existing Morton
    writer (sources/formats.py): selective predicates on ANY of the
    curve columns then prune files/row-groups via ordinary min/max
    stats, at ~sqrt of a dedicated sort's skipping per column.
    Compaction is exactly when that trade is bought: a write-once
    shuffle every later scan amortizes."""
    version = txlog_versions(root)[-1]
    live, columns = _live_files(root, version)
    smalls = [
        rel
        for rel in sorted(live)
        if os.path.getsize(os.path.join(root, rel)) < small_bytes
    ]
    if len(smalls) < 2:
        return None
    df = _scan(spark, [os.path.join(root, rel) for rel in smalls], columns)
    if zorder_cols:
        from mapreduceapp_spark.sources.formats import zorder_value

        parts = files or spark.sparkContext.defaultParallelism
        df = (
            zorder_value(df, zorder_cols)
            .repartitionByRange(parts, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        adds = _write_data(
            spark, root, df, _stats_cols(root),
            bloom_cols=_bloom_cols(root), pre_arranged=True,
        )
    else:
        adds = _write_data(
            spark, root, df, _stats_cols(root), files=files,
            bloom_cols=_bloom_cols(root),
        )
    new_version = _commit(root, adds, smalls, "compact", version)
    txlog_checkpoint(root)
    return new_version


# Incremental ledger memo: (abs root, app, table uuid) -> (newest
# version scanned, batch ids seen). Manifests are immutable and
# versions only append, so a scan never needs to revisit cleared
# versions — without this, every micro-batch re-reads the WHOLE log
# and the sink's per-commit cost grows linearly with stream age
# (O(V²) manifest reads over a stream's life). Process-local by
# construction: a fresh process rescans surviving manifests once,
# matching the uncached semantics. The table's creation uuid is part
# of the key, so a table dropped and recreated at the same path gets
# a fresh memo even if the new log reaches the same-or-higher version
# count within one process (the shrink check alone misses that case);
# pre-uuid tables key on None and keep the shrink check as the only
# recreate defense.
_LEDGER_MEMO: dict[tuple[str, str, str | None], tuple[int, frozenset]] = {}


def txlog_committed_batches(root: str, app: str) -> set[int]:
    """Batch ids already committed under ``app`` — the idempotency
    ledger the streaming sink consults. Incremental: only manifests
    newer than the previous call's horizon are read."""
    latest = (txlog_versions(root) or [0])[-1]
    key = (os.path.abspath(root), app, _table_meta(root).get("table_uuid"))
    seen_v, seen = _LEDGER_MEMO.get(key, (0, frozenset()))
    if latest < seen_v:
        # the log SHRANK: a table at this path was dropped and
        # recreated (versions only ever append on a live table) —
        # serving the dead table's ledger would silently drop batches
        seen_v, seen = 0, frozenset()
    if latest > seen_v:
        out = set(seen)
        for v in txlog_versions(root):
            if v <= seen_v:
                continue
            txn = _read_manifest(root, v).get("txn")
            if txn and txn[0] == app:
                out.add(int(txn[1]))
        seen = frozenset(out)
        _LEDGER_MEMO[key] = (latest, seen)
    return set(seen)


def txlog_foreach_batch_append(spark: SparkSession, root: str, app: str):
    """foreachBatch sink function: exactly-once appends into the log.

    foreachBatch is at-least-once — after a failure the engine
    replays the last micro-batch with the SAME batch_id. The sink
    consults the manifests for (app, batch_id) and no-ops on a
    replay, so every batch lands exactly once regardless of retries.
    The check is log-read + exclusive-create, both on the table's own
    storage — no side ledger to drift. The pre-check alone would be
    check-then-act (a zombie original driver and its restarted
    replacement can both pass it before either commits); the
    guarantee is enforced at the serialization point — ``_commit``
    treats an interleaved manifest carrying the same txn as success
    and commits nothing — so it holds under CONCURRENT replays too,
    not just sequential ones. The pre-check remains as the cheap
    fast path (a sequential replay skips the data write entirely)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # horizon captured BEFORE the ledger read: every version ≤ h
        # is covered by the pre-check below, so _commit's duplicate
        # scan only walks manifests that landed after it
        h = (txlog_versions(root) or [0])[-1]
        if int(batch_id) in txlog_committed_batches(root, app):
            return
        # files=1: a micro-batch lands as ONE coalesced file with no
        # range shuffle or sampling job — measured 1.33x per-commit at
        # sf0.1 (A/B in NOTES_r10), and one file per batch instead of
        # several for compaction to fold. The REMAINING commit floor
        # is Spark job-scheduling latency, which amortizes with
        # micro-batch size (the trigger interval owns throughput, not
        # this sink); compaction restores range clustering on the
        # maintenance cadence.
        txlog_append(
            spark, root, batch_df, txn=(app, int(batch_id)), files=1,
            txn_horizon=h,
        )

    return _sink


def txlog_foreach_batch_upsert(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    app: str,
    max_retries: int = 3,
):
    """foreachBatch sink: exactly-once MERGE of each micro-batch —
    the CDC-apply / streaming-aggregation-refresh shape, where a
    batch carries new values for existing keys rather than new rows.

    Idempotency is the same (app, batch_id) ledger as the append
    sink. The extra concern here is TxConflict: an upsert REMOVES
    files, so it can genuinely lose to a concurrent writer — unlike
    appends, the retry must RE-DERIVE against the new snapshot,
    which re-calling txlog_upsert does (it reads the live set at
    call time). Bounded retries; a persistent conflict propagates to
    the stream, which is correct — someone is rewriting the same
    keys' storage and the pipeline owner must arbitrate."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        h = (txlog_versions(root) or [0])[-1]
        if int(batch_id) in txlog_committed_batches(root, app):
            return
        for attempt in range(max_retries):
            try:
                txlog_upsert(
                    spark, root, batch_df, key_cols,
                    txn=(app, int(batch_id)), txn_horizon=h,
                )
                return
            except TxConflict:
                if attempt == max_retries - 1:
                    raise

    return _sink


# ---------------------------------------------------------------------------
# Registered query: time travel across an upsert, hash-checked.
# ---------------------------------------------------------------------------

# Deterministic mutation recipe, shared verbatim by builder and
# oracle: keys divisible by 97 get their price doubled (an exact
# IEEE operation), keys divisible by 131 are re-inserted shifted by
# 1e9 (pure inserts). Cent-integer sums keep the hash engine-neutral.
_UPD_MOD, _INS_MOD, _INS_SHIFT = 97, 131, 1_000_000_000
# version 3: the DELETE verb — keys divisible by 89 leave the live
# set (applied to the v2 snapshot; inserts shifted by 1e9 keep their
# divisibility mod 89 only when the shift does, so the recipe below
# is stated over v2 rows, exactly as the engine executes it)
_DEL_MOD = 89


def _demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process+sf_dir) the three-version demo table
    under the staging root; returns its path. The build is the
    txlog's own write path — create, an upsert carrying both matched
    updates and unmatched inserts, then a delete — so the registered
    queries exercise commit, snapshot replay, and time travel end to
    end. Each step is guarded by the CURRENT version rather than one
    table-exists check, so a table left behind by an older build (or
    a process that died mid-build) is completed to version 3, never
    silently served short — the review finding: a durable staging
    root (SPARK_GRAFT_STAGING_DIR) can carry a pre-delete table
    across processes, and txlog_read(version=3) of a 2-version table
    would quietly return the v2 live set."""
    from mapreduceapp_spark.plans.staging import staging_root

    root = os.path.join(
        staging_root(), f"txlog_demo_{zlib.crc32(sf_dir.encode()):08x}"
    )
    latest = (txlog_versions(root) or [0])[-1]
    if latest >= 3:
        return root
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    if latest < 1:
        txlog_create(spark, root, orders, stats_cols=["o_orderkey"])
    if (txlog_versions(root) or [0])[-1] < 2:
        updates = orders.where(
            F.col("o_orderkey") % _UPD_MOD == 0
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
        inserts = orders.where(
            F.col("o_orderkey") % _INS_MOD == 0
        ).withColumn("o_orderkey", F.col("o_orderkey") + _INS_SHIFT)
        txlog_upsert(
            spark, root, updates.unionByName(inserts), ["o_orderkey"]
        )
        # exercise the checkpoint path under the driver queries: reads
        # below replay (checkpoint @2), not (manifest 1, manifest 2)
        txlog_checkpoint(root)
    if (txlog_versions(root) or [0])[-1] < 3:
        # version 3: the delete verb, through the format's own write
        # path (registered queries pin explicit versions, so the
        # extra version is additive for every consumer)
        doomed = txlog_read(spark, root, version=2).filter(
            F.col("o_orderkey") % _DEL_MOD == 0
        )
        txlog_delete(spark, root, doomed, ["o_orderkey"])
    return root


@register(
    "q_txlog_time_travel",
    oracle=f"""
    WITH upd AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % {_UPD_MOD} = 0
                    THEN o_totalprice * 2 ELSE o_totalprice END AS p
        FROM orders
    ),
    ins AS (
        SELECT o_orderpriority, o_totalprice AS p
        FROM orders WHERE o_orderkey % {_INS_MOD} = 0
    ),
    v1 AS (
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders GROUP BY o_orderpriority
    ),
    v2 AS (
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(round(p * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        GROUP BY o_orderpriority
    )
    SELECT 1 AS version, * FROM v1
    UNION ALL
    SELECT 2 AS version, * FROM v2
    """,
    doc="Snapshot-isolated time travel: both versions of a txlog "
    "table (create + merge upsert) aggregated from their manifests; "
    "the oracle re-derives each snapshot from the raw table with the "
    "same deterministic mutation recipe.",
)
def q_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority (n_orders, total_cents) at table versions 1 and 2.

    Version 1 must be readable AFTER the upsert that produced
    version 2 — that is the snapshot-isolation claim under the hash
    check: the upsert's manifest removed files from the LIVE set
    only, never from disk. Cent sums are summed as integers
    (functions/numeric.py convention) so the value hash is
    engine-neutral regardless of shuffle order."""
    root = _demo_table(spark, sf_dir)
    out = None
    for v in (1, 2):
        snap = txlog_read(spark, root, version=v)
        agg = snap.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("total_cents"),
        ).select(
            F.lit(v).alias("version"),
            "o_orderpriority",
            "n_orders",
            "total_cents",
        )
        out = agg if out is None else out.unionByName(agg)
    return out


@register(
    "q_txlog_changes",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderkey % {_UPD_MOD} = 0)
               AS n_changed,
           count(*) FILTER (WHERE o_orderkey % {_INS_MOD} = 0)
               AS n_new
    FROM orders
    WHERE o_orderkey % {_UPD_MOD} = 0 OR o_orderkey % {_INS_MOD} = 0
    GROUP BY o_orderpriority
    """,
    doc="Change-data-feed between txlog versions, folded by key: "
    "file-level insert/delete rows cancel for keys rewritten "
    "verbatim, leaving exactly the upsert's updates and inserts — "
    "a layout-independent result from a layout-dependent feed.",
)
def q_txlog_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority (n_changed, n_new) between versions 1 and 2.

    txlog_changes is FILE-granular: an upsert's rewritten files
    contain survivor rows too, which appear as verbatim
    delete+insert pairs — how many depends on which files the key
    range touched. Folding by key (insert-side row differs from its
    delete-side twin, or has no twin) recovers the exact row-level
    change set, which is what the oracle can re-derive without ever
    seeing the file layout. The fold is one join on the table key —
    the standard consumer pattern for file-granular CDC feeds."""
    root = _demo_table(spark, sf_dir)
    feed = txlog_changes(spark, root, 1, 2)
    ins = feed.where(F.col("_change_type") == "insert").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    dels = feed.where(F.col("_change_type") == "delete").select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    net = ins.join(dels, "o_orderkey", "left").where(
        F.col("old_price").isNull()
        | (F.col("o_totalprice") != F.col("old_price"))
    )
    return net.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("old_price").isNotNull(), 1)).alias(
            "n_changed"
        ),
        F.count(F.when(F.col("old_price").isNull(), 1)).alias("n_new"),
    )


@register(
    "q_txlog_incremental_agg",
    oracle=f"""
    WITH upd AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % {_UPD_MOD} = 0
                    THEN o_totalprice * 2 ELSE o_totalprice END AS p
        FROM orders
    ),
    ins AS (
        SELECT o_orderpriority, o_totalprice AS p
        FROM orders WHERE o_orderkey % {_INS_MOD} = 0
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    GROUP BY o_orderpriority
    """,
    doc="Incremental materialized-view maintenance: the v1 aggregate "
    "plus the folded v1->v2 change feed must equal the v2 aggregate "
    "— refresh cost O(changed files), never a table rescan.",
)
def q_txlog_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC CONSUMER pattern that makes the change feed useful at
    100 TB: a materialized aggregate (here per-priority n_orders +
    total_cents, stored at version 1) is refreshed to version 2 by
    folding the change feed into it — adds count positive, removes
    negative — instead of rescanning the table. Two properties make
    the fold exact with a FILE-granular feed:

    - survivors rewritten verbatim appear as +row/−row pairs whose
      contributions cancel IN THE AGGREGATE (sums and counts are
      group homomorphisms), so the delta is layout-independent even
      though the feed is not;
    - cent sums are int64, so cancellation is exact, not
      approximately-zero (a float fold would drift per refresh).

    The staged v1 aggregate stands in for the stored MV (the
    consumer owns it between refreshes); the refresh plan reads ONLY
    the files version 2 added or removed — pinned by the
    inputFiles test in tests/test_txlog.py. The oracle re-derives
    the version-2 aggregate from the raw table with the demo
    mutation recipe, so the hash check pins that incremental ==
    recomputed."""
    from mapreduceapp_spark.plans.staging import stage

    root = _demo_table(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    mv = stage(
        txlog_read(spark, root, version=1)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        ),
        "txlog_mv_v1",
    )
    feed = txlog_changes(spark, root, 1, 2)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = feed.groupBy("o_orderpriority").agg(
        F.sum(sign).alias("dn"),
        F.sum(sign * cents).alias("dc"),
    )
    return (
        mv.join(delta, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("total_cents"), F.lit(0))
                + F.coalesce(F.col("dc"), F.lit(0))
            ).alias("total_cents"),
        )
        .where(F.col("n_orders") > 0)
    )


@register(
    "q_txlog_delete_travel",
    oracle=f"""
    WITH v2 AS (
        SELECT o_orderkey AS k, o_orderpriority,
               CASE WHEN o_orderkey % {_UPD_MOD} = 0
                    THEN o_totalprice * 2 ELSE o_totalprice END AS p
        FROM orders
        UNION ALL
        SELECT o_orderkey + {_INS_SHIFT} AS k, o_orderpriority,
               o_totalprice AS p
        FROM orders WHERE o_orderkey % {_INS_MOD} = 0
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM v2 WHERE k % {_DEL_MOD} <> 0
    GROUP BY o_orderpriority
    """,
    doc="TxLog DELETE verb under the driver hash: version 3 of the "
    "demo table (v2 minus keys divisible by 89, applied through "
    "txlog_delete's pruned rewrite) aggregated per priority.",
)
def q_txlog_delete_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority (n_orders, total_cents) at version 3 — the
    snapshot the DELETE verb produced. Completes the CDC-triple
    oracle coverage: create (v1), upsert (v2), delete (v3) all land
    through the format's own write path, each snapshot re-derived by
    the oracle from the raw table with the shared deterministic
    recipe. The delete itself exercises stats-window file pruning
    and the size-gated anti-join (tests/test_txlog.py pins both);
    this query pins the RESULT under the driver's hash check."""
    root = _demo_table(spark, sf_dir)
    snap = txlog_read(spark, root, version=3)
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("total_cents"),
    )
