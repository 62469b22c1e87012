"""End-to-end parity pipeline: the reference's one hard-coded plan
(humid(), src/humid.cc:369-409) as a DataFrame dataflow.

    pages -> keys/usable -> unique counts -> Hamming/edit pair join
          -> components + exact greedy replay -> cluster ids
          -> annotated / dedup sinks + histograms + scalar stats

All intermediate DataFrames are exposed on the result object so tests and
`__spark_entry__.queries()` reuse the same plan fragments.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from humid_spark.config import DedupConfig
from humid_spark.functions.keys import peek_umi_size, with_key_columns
from humid_spark.operators import blocking, exact, stats
from humid_spark.operators.directional import cluster_keys
from humid_spark.sources.io import CheckpointStore


@dataclass
class DedupResult:
    keyed: DataFrame        # pages + key + usable
    uniq: DataFrame         # key, count, first_ts, first_url
    pairs: DataFrame        # src, dst (once per unordered pair)
    clusters: DataFrame     # per-key cluster assignment + cluster fields
    annotated: DataFrame    # pages + cluster_id (0 = unusable)  [K2]
    dedup: DataFrame        # representative rows only            [K1]
    reps: DataFrame         # cluster_id -> representative url
    count_hist: DataFrame   # counts.dat                          [A4]
    neigh_hist: DataFrame   # neigh.dat                           [A5]
    cluster_hist: DataFrame # clusters.dat                        [A6]
    stats: DataFrame        # stats.dat scalars                   [A7]


def neighbour_pairs(uniq: DataFrame, cfg: DedupConfig) -> DataFrame:
    if cfg.use_edit:
        return blocking.edit_pairs(uniq, cfg.word_length, cfg.mismatches)
    return blocking.hamming_pairs(uniq, cfg.word_length, cfg.mismatches)


def run_pipeline(
    pages: DataFrame,
    cfg: DedupConfig,
    store: CheckpointStore | None = None,
) -> DedupResult:
    """With `store`, the three expensive stages (unique keys, neighbour
    pairs, clusters) checkpoint to parquet keyed by (input snapshot, config
    hash, stage) — the same resumable three-stage shape as
    `run_web_pipeline` (north_rule resumability for BOTH engine modes)."""
    spark = pages.sparkSession

    def staged(stage, compute):
        if store is None:
            return compute()
        df, _cached = store.get_or_compute(spark, stage, compute)
        return df

    # S2 probe: one O(1) driver action measuring the first record's url
    # token length, parameterizing the key plan for the whole run
    # (reference peekUMI + preCompute, src/humid.cc:24-59)
    umi_size = (
        peek_umi_size(pages, cfg)
        if (cfg.url_key_prefix and cfg.peek_umi)
        else None
    )
    keyed = with_key_columns(pages, cfg, umi_size=umi_size)
    # Stage names are namespaced per pipeline mode ("parity_*" here,
    # bare names in run_web_pipeline): the checkpoint key is
    # hash(input_snapshot, config_hash, stage) and the engine mode is not
    # part of DedupConfig, so a shared name like "pairs" would let
    # --mode parity silently load --mode web's pairs table (string keys
    # vs long doc ids) from the same --checkpoint-dir.
    uniq = staged("parity_uniq", lambda: exact.unique_keys(keyed))
    pairs = staged("parity_pairs", lambda: neighbour_pairs(uniq, cfg))
    clusters = staged(
        "parity_clusters",
        lambda: cluster_keys(
            uniq, pairs, maximum=cfg.max_clustering,
            max_component_nodes=cfg.max_component_nodes,
        ),
    )

    key_to_cluster = clusters.select("key", "cluster_id", "max_key")

    # K2 annotate: every input row; unusable rows get the reserved id 0
    # (src/humid.cc:271-277).  The key->cluster map is |unique keys| rows —
    # broadcast when small, shuffle join otherwise; AQE decides.
    annotated = (
        keyed.join(key_to_cluster.select("key", "cluster_id"), "key", "left")
        .withColumn(
            "cluster_id",
            F.when(F.col("usable"), F.col("cluster_id")).otherwise(F.lit(0)),
        )
        .select("url", "warc_ts", "html", "text", "lang", "key", "usable",
                "cluster_id")
    )

    reps = stats.representatives(keyed, clusters)

    # K1 dedup: keep exactly the representative rows (left-semi join —
    # the anti-join *effect* of the reference's visited-flag emit).
    dedup = keyed.join(
        reps.select("url"), "url", "semi"
    ).select("url", "warc_ts", "html", "text", "lang")

    return DedupResult(
        keyed=keyed,
        uniq=uniq,
        pairs=pairs,
        clusters=clusters,
        annotated=annotated,
        dedup=dedup,
        reps=reps,
        count_hist=stats.count_histogram(uniq),
        neigh_hist=stats.neighbour_histogram(uniq, pairs),
        cluster_hist=stats.cluster_histogram(clusters),
        stats=stats.scalar_stats(keyed, uniq, clusters),
    )


def write_outputs(result: DedupResult, out_dir: str, cfg: DedupConfig) -> None:
    """Materialize the reference's output surface (src/humid.cc:390-404):
    -q dedup table, -a annotated table, -s the three histograms + scalar
    stats — as parquet tables under out_dir (the engine's *_dedup /
    *_annotated / counts.dat analogs)."""
    if cfg.write_dedup:
        result.dedup.write.mode("overwrite").parquet(f"{out_dir}/pages_dedup")
    if cfg.write_annotated:
        result.annotated.write.mode("overwrite").parquet(
            f"{out_dir}/pages_annotated"
        )
    if cfg.write_stats:
        result.count_hist.write.mode("overwrite").parquet(f"{out_dir}/counts")
        result.neigh_hist.write.mode("overwrite").parquet(f"{out_dir}/neigh")
        result.cluster_hist.write.mode("overwrite").parquet(f"{out_dir}/clusters")
        result.stats.write.mode("overwrite").parquet(f"{out_dir}/stats")
