"""Incremental (snapshot-N+1) dedup: dedup a NEW batch against an EXISTING
corpus index without re-clustering the corpus.

The reference engine is batch-only — every run re-reads the full input
(src/humid.cc:443-452 loops the whole FastQ set per invocation).  At web
scale the dominant production shape is different: a crawl snapshot arrives
and must be deduplicated against the *already-ingested* corpus.  Re-running
the self-join over corpus+batch is O((C+B)^2 / buckets) work for what is
really an O(C*B / buckets) question, and at 100 TB the corpus side C is
1000x the batch side B.

THE PLAN CONTRACT: the index side is SCANNED, never SHUFFLED.  A shuffle
of the index costs O(C) network+disk per snapshot — at 100 TB that is the
whole job.  Every operator here therefore probes the index scan map-side
against a BROADCAST of batch-derived keys (the batch is the small side by
the problem's definition), so the only exchanges in the plan carry
batch-bounded data:

- ``exact_survivors`` / ``index_hit_keys``: the index contributes one
  column-pruned scan, filtered by a broadcast hash semi-join against the
  batch's distinct keys; the (tiny, <= batch-sized) surviving hit-key set
  is then broadcast back into the batch-side anti join.  Two map-side
  joins, zero index exchanges — vs the naive ``batch ANTI JOIN index``,
  which shuffles all C fingerprints per snapshot.

- ``cross_band_pairs``: asymmetric LSH band join.  The corpus keeps its
  banded MinHash buckets from ingest (write once, append per batch); the
  index band table is first restricted to BATCH-TOUCHED buckets by a
  broadcast semi-join on the batch's distinct (band, bucket) keys — index
  rows in buckets no batch row occupies can never pair, so they exit at
  the scan.  Bucket sizing, capping, salting and the pair joins then all
  operate on the touched subset (batch-bounded after the cap), and the
  one-sided skew control is unchanged in SEMANTICS: sizes are measured on
  the INDEX side (a boilerplate bucket with 10^6 corpus members is the
  hazard; restricting to touched buckets does not change any touched
  bucket's count), hot buckets are salted (index members keep salt =
  hash(id) % S, batch rows replicate once per salt — every (batch, index)
  pair still meets exactly once), and buckets beyond ``bucket_cap`` are
  demoted with lineage (``demoted_cross_buckets``), never silently.

The broadcast is unconditional: every operator here assumes the batch's
distinct key set fits in a broadcast (Spark's hard ceiling is 8 GB; with
16 bands a 10M-document snapshot broadcasts ~3 GB of band keys).  There
is no shuffle fallback — a batch whose keys outgrow a broadcast fails
when Spark builds the broadcast relation instead of silently switching
to corpus-sized exchanges.  Corpus-sized ingest is not a "batch": it
belongs in ``DedupIndex.build`` (plans/incremental.py) or
``run_web_pipeline`` (plans/webdedup.py), which self-join with
shuffles by design.

Verification (exact Jaccard / signature estimate) is the caller's existing
machinery — the pair schema matches lsh.verify_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def index_hit_keys(
    batch: DataFrame,
    index: DataFrame,
    key_col: str = "fp",
) -> DataFrame:
    """Distinct ``key_col`` values present in BOTH batch and index.

    ONE column-pruned scan of the (huge) index, probed map-side against
    the broadcast batch keys — the index never enters an exchange; the
    distinct() afterwards shuffles at most batch-many keys.  Callers that
    need both the exact-hit and the survivor side of a batch derive both
    from this one (tiny) table instead of scanning the index twice.
    """
    keys = F.broadcast(batch.select(key_col).distinct())
    return index.select(key_col).join(keys, key_col, "semi").distinct()


def exact_survivors(
    batch: DataFrame,
    index: DataFrame,
    key_col: str = "fp",
) -> DataFrame:
    """Rows of ``batch`` whose ``key_col`` does not appear in ``index``.

    Broadcast two-step: the batch-bounded hit-key set from
    ``index_hit_keys`` is broadcast into a map-side anti join — the index
    is scanned once and shuffled never.
    """
    hits = F.broadcast(index_hit_keys(batch, index, key_col))
    return batch.join(hits, key_col, "left_anti")


def cross_band_pairs(
    batch_buckets: DataFrame,
    index_buckets: DataFrame,
    *,
    bucket_cap: int = 2000,
    salts: int = 16,
    track: list | None = None,
) -> DataFrame:
    """Asymmetric candidate generation: batch bands vs index bands.

    Inputs are (doc_id, band, bucket) tables — the same shape
    lsh.band_buckets emits — from DISJOINT id spaces.  Output is distinct
    (src=batch doc, dst=index doc).

    Plan shape: the index band table is restricted to batch-touched
    buckets by a broadcast semi-join at the scan (see module docstring) —
    everything downstream (sizing, cap, salt, the pair joins) runs on the
    touched subset, so no exchange in this plan carries index-sized data.

    Skew control (one-sided variant of candidate_pairs' scheme):
    - index bucket size > bucket_cap          -> demoted (lineage via
      ``demoted_cross_buckets``); members still pair through their other,
      more selective bands.
    - salt_threshold <= size <= bucket_cap    -> salted: index members get
      salt = xxhash64(id) % salts, batch rows replicate once per salt, the
      join key becomes (band, bucket, salt) — the hot bucket's O(B*size)
      work spreads over ``salts`` tasks with the identical pair set.
    - size < salt_threshold                   -> plain equi-join.

    With ``track`` the pruned touched-index membership is persisted (it
    feeds both the cold and hot branches) and the handle appended for the
    caller to release; without ``track`` nothing is persisted.
    """
    salt_threshold = max(2, bucket_cap // 4)
    batch = batch_buckets.select(
        F.col("doc_id").alias("src"), "band", "bucket"
    )
    bkeys = F.broadcast(batch.select("band", "bucket").distinct())
    touched = index_buckets.join(bkeys, ["band", "bucket"], "semi")
    # per-bucket counts are identical on `touched` and on the full index
    # for every touched bucket (the semi-join keeps whole buckets), so the
    # cap/salt decisions below are unchanged; the groupBy partial-aggs
    # map-side, so even a pre-demotion mega-bucket exchanges one count per
    # task, not its members
    sizes = touched.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    eligible = sizes.filter(F.col("bucket_size") <= bucket_cap)
    pruned = touched.join(eligible, ["band", "bucket"])
    if track is not None:
        from pyspark import StorageLevel

        pruned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
        track.append(pruned)

    cold = pruned.filter(F.col("bucket_size") < salt_threshold).select(
        F.col("doc_id").alias("dst"), "band", "bucket"
    )
    cold_pairs = batch.join(cold, ["band", "bucket"]).select("src", "dst")

    hot = pruned.filter(F.col("bucket_size") >= salt_threshold).select(
        F.col("doc_id").alias("dst"),
        "band",
        "bucket",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salts)).alias("salt"),
    )
    batch_salted = batch.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    hot_pairs = batch_salted.join(
        hot, ["band", "bucket", "salt"]
    ).select("src", "dst")

    return cold_pairs.union(hot_pairs).distinct()


def demoted_cross_buckets(
    index_buckets: DataFrame,
    bucket_cap: int = 2000,
    batch_buckets: DataFrame | None = None,
) -> DataFrame:
    """Lineage: the (band, bucket, bucket_size) index buckets the cap
    demoted — capped coverage is never silent (same contract as
    lsh.demoted_buckets).

    With ``batch_buckets`` the report is restricted to buckets THIS batch
    touches — the only ones whose demotion affected this snapshot's
    candidate set — via the same broadcast semi-join as
    ``cross_band_pairs``, so the diagnostic costs a scan, not an
    index-sized shuffle.  Without it, all demoted buckets corpus-wide.
    """
    buckets = index_buckets
    if batch_buckets is not None:
        bkeys = batch_buckets.select("band", "bucket").distinct()
        buckets = buckets.join(F.broadcast(bkeys), ["band", "bucket"], "semi")
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > bucket_cap)
    )
