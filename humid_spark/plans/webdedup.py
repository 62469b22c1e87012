"""Web-scale near-dup pipeline (engine mode): MinHash + LSH + CC.

The parity pipeline (plans/pipeline.py) IS HUMID on a table; this plan is
the same dataflow generalized to Common-Crawl-style text:

  pages
   -> doc ids + usable flag                          [narrow]
   -> exact-dup collapse on full-text hash           [shuffle 1]
      (the trie's exact-duplicate counting, A1 — identical texts become ONE
       node, so a 10^6-copy boilerplate page costs one signature)
   -> MinHash signatures (vectorized pandas UDF)     [narrow, Arrow]
   -> LSH bands -> capped buckets -> candidate pairs [shuffle 2, skew-capped]
   -> signature-verify est_jaccard >= threshold      [shuffle 3]
   -> connected components over doc-pair edges       [star rounds above
                                                      the driver budget]
   -> cluster ids + representatives -> sinks         [shuffle 4]

Scale notes (100 TB / 1000 executors): every stage is a hash shuffle on
uniformly-hashed keys (doc_id = xxhash64(url), band buckets are 64-bit
hashes); the only stateful structure is the |unique texts| signature table —
the same "trie is the only resident state" shape as the reference
(SURVEY.md §1.2), now horizontally partitioned.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from humid_spark.config import DedupConfig
from humid_spark.functions.signatures import make_minhash_udf
from humid_spark.operators import lsh
from humid_spark.operators.cc import connected_components
from humid_spark.sources.io import CheckpointStore


@dataclass
class WebDedupResult:
    docs: DataFrame        # url, warc_ts, text, lang, doc_id, usable
    uniq: DataFrame        # text_hash, count, rep_doc_id, minhash
    sigs: DataFrame        # doc_id(=first of exact group), minhash
    pairs: DataFrame       # verified near-dup pairs (src, dst, est_jaccard)
    clusters: DataFrame    # doc_id -> cluster_id (over ALL usable docs)
    annotated: DataFrame   # pages + cluster_id (0 = unusable)
    dedup: DataFrame       # one representative row per cluster
    demoted: DataFrame     # capped hot LSH buckets (lineage)
    demoted_fps: DataFrame | None = None  # capped winnow fingerprints
                                          # (lineage; None unless
                                          # cfg.use_containment)
    persisted: list = None  # persisted intermediates (see release())
    checkpointed: list = None  # CheckpointHandles (CC's final round)

    def release(self, checkpoints: bool = False) -> None:
        """Unpersist the pipeline's cached intermediates (the pruned LSH
        bucket membership and the unique-signature table).  Safe at any
        point — the cached plans keep their lineage, so a later action on
        any result DataFrame recomputes instead of failing.  Call once the
        results are materialized (written / collected) so long-lived
        sessions running many pipelines don't accumulate executor storage.

        checkpoints=True additionally frees the connected-components
        final-round localCheckpoint blocks (the one storage a default
        release leaves behind).  Lineage there is TRUNCATED by design, so
        after a checkpoint release the cluster-bearing DataFrames
        (clusters / annotated / dedup) can no longer be acted on — only
        opt in once every output is written or collected."""
        for df in self.persisted or ():
            df.unpersist()
        if checkpoints:
            for h in self.checkpointed or ():
                h.unpersist()

    def funnel(self) -> DataFrame:
        """The dedup tier funnel as one (metric, value) DataFrame:

          total_usable -> exact_removed (full-text dups collapsed, A1)
                       -> near_removed  (LSH-verified clusters merged)
                       -> kept          (one representative per cluster)

        Counts come from the already-built stage DataFrames (uniq is
        persisted, so the only new work is small aggregations); the
        contract query `web_dedup_funnel` hash-checks the same chain
        against a full SQL replay.  All six values are longs."""
        from humid_spark.functions.rows import combine_single_rows

        one = combine_single_rows([
            self.uniq.agg(
                F.sum("count").cast("long").alias("total_usable"),
                F.count(F.lit(1)).alias("exact_unique"),
            ),
            self.pairs.agg(F.count(F.lit(1)).alias("near_edges")),
            self.clusters.select(
                F.col("rep_doc_id").alias("doc_id"), "cluster_id"
            ).distinct().agg(
                F.count(F.lit(1)).alias("cc_nodes"),
                F.countDistinct("cluster_id").alias("cc_comps"),
            ),
        ])
        return one.selectExpr(
            "stack(6, "
            "'total_usable', total_usable, "
            "'exact_unique', exact_unique, "
            "'exact_removed', total_usable - exact_unique, "
            "'near_edges', near_edges, "
            "'near_removed', cc_nodes - cc_comps, "
            "'kept', cc_comps"
            ") AS (metric, value)"
        )


def run_web_pipeline(
    pages: DataFrame,
    cfg: DedupConfig,
    store: CheckpointStore | None = None,
) -> WebDedupResult:
    """With `store`, the three expensive stages (signatures, verified pairs,
    components) checkpoint to parquet keyed by (input snapshot, config hash,
    stage): a rerun resumes from the last completed stage; a changed config
    never reuses stale checkpoints (north_rule resumability)."""
    spark = pages.sparkSession

    def staged(stage, compute):
        if store is None:
            return compute()
        df, cached = store.get_or_compute(spark, stage, compute)
        return df

    from humid_spark.functions import keys

    doc_id, is_usable = keys.doc_identity(cfg)
    docs = pages.withColumn("doc_id", doc_id).withColumn("usable", is_usable)

    # Signatures are computed AT THE SCAN (narrow — the text payload never
    # enters a shuffle), then the exact-duplicate collapse (A1) groups the
    # compact (text_hash, sig) rows: one signature row per distinct text,
    # group id = min doc_id (deterministic).  Computing the signature for
    # each exact copy costs a little redundant CPU but saves shuffling the
    # full text corpus — the right trade until exact-dup multiplicity is
    # extreme, and the signature stage stays Arrow-native numpy (no per-row
    # Python).  An explicit pre-UDF repartition measured 3.5x SLOWER (it
    # re-shuffles text for nothing); AQE's small advisory partition size in
    # session.py keeps UDF parallelism up instead.
    from humid_spark.functions.signatures import minhash_map_in_arrow

    usable = docs.filter(F.col("usable"))
    raw_sigs = minhash_map_in_arrow(
        usable.withColumn("text_hash", F.xxhash64(F.col("text"))),
        cfg.shingle_k, cfg.num_perm, scheme=cfg.minhash_scheme,
        passthrough=("text_hash",),
    )
    uniq = staged(
        "signatures",
        lambda: raw_sigs.groupBy("text_hash").agg(
            F.count(F.lit(1)).alias("count"),
            F.min("doc_id").alias("rep_doc_id"),
            # first() is order-nondeterministic in general but EXACT here:
            # every row in a text_hash group has byte-identical text, so
            # all candidate minhash values are identical
            F.first("minhash").alias("minhash"),
        ),
    )
    persisted: list = []
    if store is None:
        # materialize once: bands, verify (two self-joins) and the fan-out
        # all reuse this table — the resident-state analog of the
        # reference's trie (never recomputed per pass).  persist (not
        # localCheckpoint): lineage survives, so release() is always safe.
        from pyspark import StorageLevel

        uniq = uniq.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(uniq)
    sigs = uniq.select(F.col("rep_doc_id").alias("doc_id"), "minhash")

    buckets = lsh.band_buckets(sigs, cfg)
    demoted = lsh.demoted_buckets(buckets, cfg)
    pairs = staged(
        "pairs",
        lambda: lsh.verify_pairs(
            lsh.candidate_pairs(buckets, cfg, track=persisted), sigs, cfg
        ),
    )

    # Containment pass (winnowing) finds substring dups LSH misses; its
    # edges union with the near-dup edges before clustering.  Its cap
    # demotions join the lineage surface (demoted_fps) exactly like the
    # LSH bucket demotions — capped coverage is never silent.
    demoted_fps = None
    rep_texts = None
    if cfg.use_containment:
        from humid_spark.operators.containment import demoted_fingerprints

        # winnowing needs the representative texts; fetch them with a
        # semi-join on doc_id (AQE broadcasts the id set at runtime
        # when it is small)
        rep_texts = usable.join(
            uniq.select(F.col("rep_doc_id").alias("doc_id")),
            "doc_id", "semi",
        ).select("doc_id", "text")
        demoted_fps = demoted_fingerprints(
            rep_texts, k=cfg.winnow_k, w=cfg.winnow_w
        )

    def _edge_set():
        edges = pairs.select("src", "dst")
        if cfg.use_containment:
            from humid_spark.operators.containment import containment_pairs

            cont = containment_pairs(
                rep_texts,
                k=cfg.winnow_k, w=cfg.winnow_w,
                min_share=cfg.containment_min_share,
            )
            # no .distinct(): each generator already emits once-per-pair,
            # and the only cross-source duplicates (a pair that is both a
            # near-dup and a containment hit) are absorbed by the CC
            # round-1 min aggregations — the distinct was one extra
            # exchange of the full edge chain before CC's checkpoint
            edges = edges.union(cont.select("src", "dst"))
        return edges

    # Components over unique-text representatives...
    cc_checkpoints: list = []
    comp = staged(
        "components",
        lambda: connected_components(_edge_set(), track=cc_checkpoints),
    )
    if store is not None and cc_checkpoints:
        # with a CheckpointStore the components stage is materialized to
        # parquet (and re-read from it), so CC's final-round blocks are
        # already consumed — free them now instead of handing them out
        for h in cc_checkpoints:
            h.unpersist()
        cc_checkpoints = []
    rep_cluster = (
        sigs.select("doc_id")
        .join(comp, sigs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    # ...then fanned back out to every usable doc through the exact groups.
    # All intermediate joins carry ONLY (ids, hashes) — the wide page
    # payload (text/html) is shuffled exactly once, in the final annotate
    # join, instead of riding through three shuffles.
    doc_to_rep = (
        usable.select("doc_id", F.xxhash64(F.col("text")).alias("text_hash"))
        .join(uniq.select("text_hash", "rep_doc_id"), "text_hash")
        .select("doc_id", "rep_doc_id")
    )
    clusters = doc_to_rep.join(
        rep_cluster.withColumnRenamed("doc_id", "rep_doc_id"), "rep_doc_id"
    ).select("doc_id", "rep_doc_id", "cluster_id")

    annotated = (
        docs.join(clusters.select("doc_id", "cluster_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.lit(0)))
        .select("url", "warc_ts", "html", "text", "lang", "doc_id",
                "usable", "cluster_id")
    )

    # Representative = first (warc_ts, url) in the cluster — the reference's
    # first-in-input-order emit (F2) without the count climb (web mode has
    # no UMI-count semantics; exact-dup multiplicity is carried in `count`).
    rep_docs = (
        annotated.filter(F.col("usable"))
        .groupBy("cluster_id")
        .agg(F.min(F.struct("warc_ts", "url", "doc_id")).alias("first"))
        .select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.url").alias("url"),
            F.col("first.warc_ts").alias("warc_ts"),
        )
    )
    # the semi join carries the full rep identity, not just doc_id: with
    # cfg.canonicalize_urls several VARIANT rows share the rep's doc_id
    # (that is the point of canonicalizing) and a doc_id-only semi join
    # would re-emit every variant; dropDuplicates covers byte-identical
    # re-fetches (same url AND timestamp), where any pick is the same row
    # null-safe equality on url/warc_ts: input schemas are nullable, and a
    # rep row with a NULL field would otherwise match nothing in a plain
    # equi join — silently dropping its ENTIRE cluster from the output
    d, r = docs.alias("d"), rep_docs.alias("r")
    dedup = (
        d.join(
            r,
            (F.col("d.doc_id") == F.col("r.doc_id"))
            & F.col("d.url").eqNullSafe(F.col("r.url"))
            & F.col("d.warc_ts").eqNullSafe(F.col("r.warc_ts")),
            "semi",
        )
        .select("url", "warc_ts", "html", "text", "lang")
        .dropDuplicates(["url", "warc_ts"])
    )

    return WebDedupResult(
        docs=docs, uniq=uniq, sigs=sigs, pairs=pairs, clusters=clusters,
        annotated=annotated, dedup=dedup, demoted=demoted,
        demoted_fps=demoted_fps, persisted=persisted,
        checkpointed=cc_checkpoints,
    )
