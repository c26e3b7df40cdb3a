"""Curated streaming ingest: documents stream → quality floor + PII
scrub → exactly-once TxLog appends.

The batch curation surface (operators/curation.py) runs nightly; this
runner is its continuous form — the crawl topic lands directly in a
queryable, time-travelable table. Composition, not re-implementation:
the quality floor is the SAME ``token_count_sql``/``MIN_TOKENS`` the
batch pipeline applies, the scrub the SAME regex constants
``q_pii_scrub`` oracles, and the sink is
``txlog_foreach_batch_append`` (sources/txlog.py), whose (app,
batch_id) idempotency upgrades foreachBatch's at-least-once contract
to exactly-once appends.

Scale posture:
- the per-batch transform is MAP-ONLY (tokenize-count + two regex
  passes) — zero shuffles, zero streaming state; ingest throughput is
  scan-bound at any corpus size. Near-dup-on-ingest is deliberately a
  separate runner (streaming/probe.py) — dedup needs the corpus
  index, curation does not, and coupling them would put the index
  probe on every document instead of every candidate.
- each micro-batch commits one txlog version; manifest growth is one
  small JSON per batch, folded away by ``txlog_checkpoint`` on the
  compaction cadence.
- exactly-once scope: the (app, batch_id) key guards REPLAYS within
  one checkpointed query lineage (foreachBatch's failure contract).
  A NEW checkpoint restarts batch ids at 0 — use a fresh ``app`` id
  per query incarnation, same as the published formats' txnAppId
  contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.text import token_count_sql
from mapreduceapp_spark.operators.curation import (
    MIN_TOKENS,
    PII_EMAIL_RE,
    PII_EMAIL_TOKEN,
    PII_PHONE_RE,
    PII_PHONE_TOKEN,
)
from mapreduceapp_spark.sources.txlog import txlog_foreach_batch_append


def curate_documents(docs: DataFrame) -> DataFrame:
    """The map-only curation transform, shared verbatim by the stream
    and its batch twin (the equality test runs THIS function on both
    sides, so the assertion pins the plumbing, not a re-derivation).
    """
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, PII_EMAIL_TOKEN),
        PII_PHONE_RE,
        PII_PHONE_TOKEN,
    )
    return (
        docs.withColumn("ntok", F.expr(token_count_sql("text")))
        .filter(F.col("ntok") >= MIN_TOKENS)
        .select("doc_id", "lang", "source", scrubbed.alias("text"), "ntok")
    )


def curated_ingest_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    app: str = "curated-ingest",
):
    """Start the ingest: returns the StreamingQuery. The caller owns
    table creation (txlog_create with the curated schema) so the
    table's stats columns are declared once, not per incarnation."""
    sink = txlog_foreach_batch_append(spark, table_root, app)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sink(curate_documents(batch_df), batch_id)

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
