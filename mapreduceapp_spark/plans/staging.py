"""Scoped staging for multiply-consumed intermediates.

Several queries derive an expensive intermediate (an Arrow-pass
signature table, a two-round k-means assignment) that multiple plan
branches consume. Left lazy, every branch re-runs the derivation;
``persist()``-as-staging fixes the recompute but has two lifecycle
problems the round-2 audit flagged:

- nothing ever unpersists, so executor storage accumulates for the
  life of the session (the driver runs 70+ queries x 3 builder calls
  in ONE SparkSession — at 100 TB a leaked corpus-scale cache is a
  scale-killer);
- Spark's CacheManager substitutes ``InMemoryTableScan`` into ANY
  later plan containing an equal subtree, so one query's cache
  silently rewrites another query's physical plan (the round-2
  full-suite plan-gate flake).

``stage()`` is the replacement: materialize the intermediate to a
parquet under a per-process staging root and return a lazy scan over
it. Properties:

- write once, read N times — same job-count as persist;
- zero CacheManager involvement — other queries' plans are untouched;
- bounded footprint — each (query, name) stages to a deterministic
  path with ``overwrite``, so re-invocations reuse the slot instead
  of stacking, and a named :func:`slot` keeps one path per (name,
  key) across processes; the root is removed at interpreter exit;
- cluster story: point ``SPARK_GRAFT_STAGING_DIR`` at durable shared
  storage (HDFS/object store) and staged tables survive executor
  loss without lineage recompute — strictly stronger than
  MEMORY_AND_DISK, which is executor-local.

The reference keeps every intermediate in process memory with no
lifecycle at all (``MapReduceFramework.cpp:140``); this module is the
scale-aware analog of its phase-output vectors.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame

_STAGING_ROOT: str | None = None

# Process-lifetime counters + stderr markers: the round-5 driver bench
# recorded one 14x-slower query that the builder could not reproduce;
# the prime suspect was "stage() rewrote a slot inside a timed run".
# These make that visible post-hoc: bench.py snapshots WRITE_COUNT
# around each timed run and records the delta, and every write prints
# a stderr marker (memo-hits only under SPARK_GRAFT_STAGE_VERBOSE —
# they happen on every builder re-invocation and would drown stderr).
WRITE_COUNT = 0
HIT_COUNT = 0

# (name, plan semanticHash) -> lazy scan over that plan's slot, for
# slots written by THIS process. Lets stage() skip the rewrite when
# re-invoked with an equivalent plan (bench re-invokes every builder
# 3x; pipelines may call a staged builder twice). Process-local by
# construction: a slot inherited from a previous process is never
# trusted.
_STAGED_PLANS: dict[tuple[str, int], DataFrame] = {}


def staging_root() -> str:
    """Per-process staging directory, created lazily, removed at exit.

    ``SPARK_GRAFT_STAGING_DIR`` overrides (no auto-cleanup then — a
    cluster operator pointing this at shared storage owns retention).
    """
    global _STAGING_ROOT
    if _STAGING_ROOT is None:
        env = os.environ.get("SPARK_GRAFT_STAGING_DIR")
        if env:
            _STAGING_ROOT = env
        else:
            _STAGING_ROOT = tempfile.mkdtemp(prefix="mrapp_stage_")
            atexit.register(shutil.rmtree, _STAGING_ROOT, ignore_errors=True)
    return _STAGING_ROOT


def stage(df: DataFrame, name: str, key: str | None = None) -> DataFrame:
    """Materialize ``df`` to staged parquet and return a scan over it.

    The write is an eager Spark job (snappy parquet, the engine's
    shuffle-spill-grade codec); the returned DataFrame is a plain
    lazy parquet scan, so downstream branches each read the staged
    bytes instead of re-deriving the lineage. The read-back passes
    ``df.schema``, so it costs no schema-inference job.

    Idempotent per plan: if this process already staged a
    semantically-equal plan under this name, the write is skipped and
    the existing bytes are re-scanned (zero jobs). Equality is
    Catalyst's ``semanticHash`` of the analyzed plan, so a builder
    re-invoked with the same (query, sf_dir) reuses its slot while
    any change to the lineage — different sf_dir, different params —
    forces a fresh slot. Staged inputs are engine intermediates (not
    user tables that can mutate mid-process), so plan equality is the
    correct reuse key.

    The slot PATH embeds the plan hash. This is load-bearing, not
    cosmetic: a staged scan's logical plan is just "read <path>", so
    if two different upstream plans wrote to one recycled path, every
    DOWNSTREAM stage() built over that scan would carry the same
    semanticHash for genuinely different data and reuse stale bytes
    (observed: a two-sf process returning sf0.001 pairs for an sf0.01
    query). With per-plan paths, data identity always flows through
    the path, so equal downstream hashes imply equal upstream data —
    inductively, through any depth of stage() composition. A named
    :func:`slot` passes its ``key`` instead, and (name, key) names the
    path whatever the producer plan hashes to.
    """
    plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
    tag = (
        f"{plan_hash & 0xFFFFFFFFFFFFFFFF:016x}"
        if key is None
        else "k" + hashlib.sha256(key.encode()).hexdigest()[:16]
    )
    path = os.path.join(staging_root(), f"{name}_{tag}")
    cached = _STAGED_PLANS.get((name, plan_hash))
    # existence re-check is local-fs only; for a remote staging root
    # ("hdfs://...", "s3a://...") the process-local map alone decides
    # — it is only populated after a successful write.
    slot_ok = "://" in path or os.path.exists(path)
    global WRITE_COUNT, HIT_COUNT
    if (
        cached is not None
        # same-session only: semanticHash is plan-structural, so an
        # equal plan built on a NEW session would otherwise hit a
        # cached scan bound to the old (possibly stopped) session
        and cached.sparkSession is df.sparkSession
        and slot_ok
    ):
        HIT_COUNT += 1
        if os.environ.get("SPARK_GRAFT_STAGE_VERBOSE"):
            print(f"[stage] hit {name}", file=sys.stderr)
        return cached
    WRITE_COUNT += 1
    print(f"[stage] write {name} -> {os.path.basename(path)}", file=sys.stderr)
    df.write.mode("overwrite").parquet(path)
    scan = df.sparkSession.read.schema(df.schema).parquet(path)
    scan._mrapp_staged_path = path  # enables staged_row_count()
    _STAGED_PLANS[(name, plan_hash)] = scan
    return scan


# (name, caller key) -> stage() scan, for named per-corpus slots whose
# producer is a pure function of the key (see slot()).
_SLOT_MEMO: dict[tuple[str, str], DataFrame] = {}


def slot(spark, name: str, key: str, make_df) -> DataFrame:
    """Explicit-key staged slot: ``stage(make_df(), name)`` with
    ``(name, key)`` as the process-local reuse key, so repeat
    invocations skip CONSTRUCTING the producer plan entirely.

    Why it exists (r17 measurement, guide §1): the plan-hash memo in
    :func:`stage` is correct but pays for its key — every builder
    re-invocation rebuilds the producer DataFrame (hundreds of py4j
    round-trips; the exact-kNN plan alone measured ~0.3 s) only to
    rediscover that an identical plan is already staged. For the
    engine's NAMED per-corpus slots (one producer function per name,
    parameterized by sf_dir only) the (name, sf_dir) pair IS the plan
    identity, so the producer is deferred behind a thunk and never
    constructed on a hit. The slot's path is derived from (name, key)
    too, not from the producer's plan hash, which differs between
    processes for some producers (the Arrow UDF plans): under a
    persistent ``SPARK_GRAFT_STAGING_DIR`` a new process overwrites
    the slot's one directory instead of adding another.

    CONTRACT: ``key`` must capture every input that changes the
    producer's plan (for the engine's per-corpus slots: the sf_dir).
    Parameterized / inner slots (per-lineage pq codes, residual
    probes) keep the plan-hash ``stage()`` path. Hits are re-validated
    against the live session, the CURRENT staging root (tests swap it
    to simulate cold processes), and slot-path existence — any
    mismatch falls back to a full construct + stage()."""
    k = (name, key)
    hit = _SLOT_MEMO.get(k)
    if hit is not None and hit.sparkSession is spark:
        path = getattr(hit, "_mrapp_staged_path", None)
        if path and path.startswith(staging_root()) and (
            "://" in path or os.path.exists(path)
        ):
            global HIT_COUNT
            HIT_COUNT += 1
            if os.environ.get("SPARK_GRAFT_STAGE_VERBOSE"):
                print(f"[stage] slot hit {name}", file=sys.stderr)
            return hit
    scan = stage(make_df(), name, key)
    _SLOT_MEMO[k] = scan
    return scan


def staged_local_column(
    scan: DataFrame, column: str, max_rows: int
) -> list | None:
    """One column of a frame returned by ``stage()``, read driver-side
    from the staged parquet via pyarrow — ZERO Spark jobs (r18,
    VERDICT r17 ask #5: the index probes ran a full Spark job — task
    scheduling, AQE, the works — to collect a few thousand ints that
    this process just wrote to local disk).

    Same object contract as :func:`staged_row_count` (the argument
    must be the exact ``stage()`` result), same designed degradation:
    returns None — and the caller falls back to a collect job — when
    the frame is not a local staged scan, the footers say the slot
    exceeds ``max_rows`` (the driver-read bound: the Spark job is the
    right tool for a big slot), or anything about the read fails."""
    path = getattr(scan, "_mrapp_staged_path", None)
    if path is None or "://" in path:
        return None
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    try:
        if sum(pq.ParquetFile(f).metadata.num_rows for f in files) > max_rows:
            return None
        out: list = []
        for f in files:
            out.extend(
                pq.read_table(f, columns=[column]).column(0).to_pylist()
            )
        return out
    except Exception:
        return None


def staged_row_count(scan: DataFrame) -> int | None:
    """Row count of a frame returned by ``stage()`` — summed from the
    staged files' parquet footers, driver-side metadata only, zero
    Spark jobs. The stage write just produced those footers, so the
    count is free; callers use it to feed ``broadcast_if_small`` with
    a MEASURED size instead of an unconditional hint.

    CONTRACT (ADVICE r11): the argument must be the EXACT DataFrame
    object ``stage()`` returned — the staged path rides a private
    attribute on that instance, so ANY intervening transformation
    (``.select``, ``.filter``, even ``.alias``) or an independent
    re-read of the same path yields None, silently. That is the
    designed degradation, not an error: None means "not a stage()
    result I can vouch for", and every call site falls back to a
    count job — correct, just one job slower. Call this BEFORE
    deriving from the staged scan, or keep a reference to the
    original. (Keying by slot name instead was considered and
    rejected: one name maps to many plan-hash slots per process, and
    a name-keyed lookup could hand back a DIFFERENT plan's count —
    a wrong broadcast-gate bound rather than a slow fallback.)

    Returns None for frames that did not come from stage() (or a
    remote staging root this process cannot glob) — callers fall
    back to a count."""
    path = getattr(scan, "_mrapp_staged_path", None)
    if path is None or "://" in path:
        return None
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None
