"""Streaming ingestion over the persistent DedupIndex: continuous crawl
snapshots classified and ingested per micro-batch.

`plans/incremental.DedupIndex` answers "dedup snapshot N+1 against the
corpus" as a batch call; this module is the Structured-Streaming driver for
it — pages arrive as a stream (file source in tests, Kafka/queue in
production), each micro-batch is classified against the index
(exact anti-join / near band-join / fresh), survivors are written to the
output sink AND appended to the index, so batch N+2 deduplicates against
everything batch N+1 brought in.

Why `foreachBatch` and not a stateful operator: the index is corpus-sized
(the state-store's per-key model would hold |corpus| fingerprints AND
signatures in executor state), already persisted as parquet, and shared
with batch jobs.  foreachBatch gives each micro-batch the full DataFrame
plan surface (anti-join + band join against the parquet index) while
keeping streaming semantics — the canonical Spark pattern for
stream-vs-large-table joins with side effects.

Exactly-once: foreachBatch may REPLAY a micro-batch after a failure (its
side effects are at-least-once; only the sink bookkeeping is
transactional).  Both side effects here are made idempotent per
`batch_id`:
- the survivors sink writes to `<out>/batch_id=<id>/` with mode
  "overwrite" — a replay rewrites the same files;
- the index append is SKIPPED when the manifest already records the
  batch id (`DedupIndex.has_batch`) — the guard that raises in the batch
  API (double-ingest is a bug there) downgrades to the documented
  skip-on-replay here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from humid_spark.plans.incremental import DedupIndex


def stream_ingest(
    pages_stream: DataFrame,
    index: DedupIndex,
    out_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "stream",
):
    """Wire a pages stream into the index.  Returns the DataStreamWriter —
    call .start() (or .trigger(availableNow=True).start() to drain) on it.

    Per micro-batch: classify vs the CURRENT index, write survivors
    (url, text_hash, doc_id) to `<out_dir>/batch_id=<id>/`, append them to
    the index.  near-pair lineage lands beside the survivors so a
    downstream clustering job can consume the edges without recomputing
    the band join.  When the index maintains a cluster map
    (build(with_clusters=True)), each micro-batch also runs
    cluster_batch: the batch's (doc_id, cluster) assignments land beside
    the survivors and the map delta commits atomically with the append —
    replay idempotence is unchanged (the has_batch skip covers the map,
    since map and data share the one manifest commit)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bid = f"{batch_prefix}-{batch_id}"
        if index.has_batch(bid):  # replay after failure: already ingested
            return
        res = index.dedup_batch(batch_df)
        base = os.path.join(out_dir, f"batch_id={batch_id}")
        surv_path = os.path.join(base, "survivors")
        res.survivors.write.mode("overwrite").parquet(surv_path)
        res.near_pairs.write.mode("overwrite").parquet(
            os.path.join(base, "near_pairs")
        )
        delta = None
        if index.manifest.get("clusters"):
            delta = index.cluster_batch(res)
            cpath = os.path.join(base, "clusters")
            delta.assignments.write.mode("overwrite").parquet(cpath)
            # within-batch verified edges exist on NO other surface (the
            # cross near_pairs above are batch-vs-index only) — without
            # them a sink consumer cannot reconstruct why two same-batch
            # docs share a cluster; same overwrite-idempotent pattern
            delta.batch_pairs.write.mode("overwrite").parquet(
                os.path.join(base, "batch_pairs")
            )
            # the append below ingests the WRITTEN assignments — the
            # survivors discipline (index == sink)
            delta.assignments = batch_df.sparkSession.read.parquet(cpath)
        # append from the WRITTEN table: the index ingests exactly what
        # the sink holds
        index.append(
            batch_df.sparkSession.read.parquet(surv_path), bid,
            clusters=delta,
        )
        if delta is not None:
            delta.release()
        res.release()

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
