"""CLI entry point — the reference's command-line surface, Spark-shaped.

Mirrors HUMID's interface (reference src/humid.cc:413-429: `humid [-n 24]
[-m 1] [-e] [-x] [-s] [-q] [-a] [-d DIR] files`) over parquet pages tables
instead of FastQ files, and adds the engine-mode (MinHash/LSH) flags the
reference lacks.  Launchable three ways, all equivalent:

    python -m humid_spark -d out/ pages.parquet              # local[N]
    python -m humid_spark --mode web --cores 8 ... pages.parquet
    spark-submit --py-files humid_spark.zip humid_spark/__main__.py \
        --cores 0 -d out/ pages.parquet                      # cluster
                                                             # (master from
                                                             # spark-submit)

`--cores 0` inherits the master from spark-submit (the north_rule launch
shape); any other value runs local[cores].
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="humid_spark", description="Deduplicate a pages dataset.",
    )
    # reference-parity flags (src/humid.cc:419-427)
    p.add_argument("-n", "--word-length", type=int, default=24,
                   help="word length (reference -n)")
    p.add_argument("-m", "--mismatches", type=int, default=1,
                   help="allowed mismatches (reference -m)")
    p.add_argument("-e", "--edit", action="store_true",
                   help="use edit distance (reference -e)")
    p.add_argument("-x", "--max-clustering", action="store_true",
                   help="use maximum clustering method (reference -x)")
    p.add_argument("-s", "--stats", action="store_true",
                   help="calculate statistics (reference -s)")
    p.add_argument("-q", "--no-dedup", action="store_true",
                   help="skip the deduplicated output (reference -q "
                        "defaults ON; this flag turns it off)")
    p.add_argument("-a", "--annotate", action="store_true",
                   help="write annotated output (reference -a)")
    p.add_argument("-d", "--out-dir", default=".",
                   help="output directory (reference -d)")
    p.add_argument("-l", "--log", default=None,
                   help="log file name (reference -l; default stderr)")
    # engine-mode flags (no reference equivalent)
    p.add_argument("--mode",
                   choices=["parity", "web", "incremental", "curate"],
                   default="parity",
                   help="parity: reference key semantics (Hamming/edit "
                        "neighbour join); web: MinHash/LSH near-dup engine; "
                        "incremental: dedup the input batch against a "
                        "persistent --index-dir (builds it on first run); "
                        "curate: quality gate + deterministic sample + web "
                        "dedup, writes curated pages + the tier funnel")
    p.add_argument("--compact-after", type=int, default=0, metavar="N",
                   help="incremental mode: when the index holds >= N live "
                        "batch snapshots after this run, fold them into "
                        "one (DedupIndex.compact) and vacuum the orphans — "
                        "the small-files maintenance policy, bound to the "
                        "snapshot cadence (0 = never)")
    p.add_argument("--index-dir", default=None,
                   help="incremental mode: the persistent DedupIndex "
                        "directory")
    p.add_argument("--delete", action="store_true",
                   help="incremental mode: treat the input as a TAKEDOWN "
                        "list instead of a snapshot — tombstone its rows "
                        "in the index (url or doc_id column; merge-on-read"
                        ", folded physically by the next --compact-after)")
    p.add_argument("--clusters", action="store_true",
                   help="incremental mode, first run only: bootstrap a "
                        "persistent cluster map alongside the index "
                        "(build(with_clusters=True)); later runs follow "
                        "the index manifest and maintain the map per "
                        "batch (cluster_batch), writing the batch's "
                        "(doc_id, cluster) rows to <out>/clusters")
    p.add_argument("--scheme", choices=["kperm", "oph"], default=None,
                   help="MinHash scheme (web mode; default from config)")
    p.add_argument("--containment", action="store_true",
                   help="web mode: add the winnowing containment pass "
                        "(substring dups LSH misses); cap demotions are "
                        "reported in the run summary")
    p.add_argument("--bench", default=None, metavar="PARQUET",
                   help="curate mode: benchmark table (a 'text' column); "
                        "pages sharing any word 13-gram with it are "
                        "dropped at the decontamination tier")
    p.add_argument("--noisy-rate", type=int, default=1000,
                   help="curate mode: permille of 'noisy'-class pages to "
                        "keep (deterministic md5 sample; default 1000 = "
                        "keep all — downsampling is OPT-IN)")
    p.add_argument("--canonicalize-urls", action="store_true",
                   help="collapse key-space url duplicates (case, default "
                        "ports, tracking params, fragments, slashes) "
                        "before doc ids are assigned")
    p.add_argument("--alphabet", default=None,
                   help="restrict usable keys to this alphabet "
                        "(e.g. ACGT for FastQ-shaped data)")
    p.add_argument("--url-key-prefix", action="store_true",
                   help="UMI analog: prepend the url's last token")
    p.add_argument("--checkpoint-dir", default=None,
                   help="resumable-stage checkpoint directory")
    p.add_argument("--cores", type=int, default=None,
                   help="local[cores]; 0 = inherit master from "
                        "spark-submit (cluster mode)")
    p.add_argument("files", nargs="+", help="input parquet pages tables")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from humid_spark.config import DedupConfig
    from humid_spark.session import get_spark

    cfg_kwargs = dict(
        word_length=args.word_length,
        mismatches=args.mismatches,
        use_edit=args.edit,
        max_clustering=args.max_clustering,
        write_dedup=not args.no_dedup,
        write_annotated=args.annotate,
        write_stats=args.stats,
        alphabet=args.alphabet,
        url_key_prefix=args.url_key_prefix,
        checkpoint_dir=args.checkpoint_dir,
        use_containment=args.containment,
        canonicalize_urls=args.canonicalize_urls,
    )
    if args.scheme:
        cfg_kwargs["minhash_scheme"] = args.scheme
    cfg = DedupConfig(**cfg_kwargs)

    log = open(args.log, "a") if args.log else sys.stderr
    t0 = time.time()
    spark = get_spark("humid_spark-cli", cores=args.cores)
    try:
        pages = spark.read.parquet(*args.files)

        from humid_spark.sources.io import CheckpointStore, input_snapshot_of

        store = (
            CheckpointStore(
                args.checkpoint_dir,
                input_snapshot=input_snapshot_of(args.files),
                config_hash=cfg.config_hash(),
            )
            if args.checkpoint_dir else None
        )

        if args.mode == "curate":
            from humid_spark.plans.curate import run_curation_pipeline

            res = run_curation_pipeline(
                pages, cfg,
                sample_rates={"noisy": args.noisy_rate},
                bench=(spark.read.parquet(args.bench)
                       if args.bench else None),
            )
            res.kept.write.mode("overwrite").parquet(
                f"{args.out_dir}/pages_curated")
            # run the funnel plan ONCE: collect the handful of tier rows,
            # write the sink from the collected rows (never write-then-
            # read-back — same single-execution discipline as the
            # Observation pattern in the batch path below)
            funnel_df = res.funnel()
            funnel_rows = funnel_df.collect()
            spark.createDataFrame(
                funnel_rows, funnel_df.schema
            ).write.mode("overwrite").parquet(f"{args.out_dir}/funnel")
            out = {"curated": True}
            if cfg.write_stats:
                out["funnel"] = {
                    r["metric"]: r["value"] for r in funnel_rows
                }
            res.release()
        elif args.mode == "incremental":
            if not args.index_dir:
                raise SystemExit("--mode incremental requires --index-dir")
            import os

            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from humid_spark.plans.incremental import DedupIndex

            batch_id = input_snapshot_of(args.files)
            if args.delete:
                # takedown run: the input is the delete list, not a batch
                if not os.path.exists(
                    DedupIndex._manifest_path(args.index_dir)
                ):
                    raise SystemExit(
                        "--delete: no index exists at --index-dir; build "
                        "one first (run without --delete)"
                    )
                idx = DedupIndex.load(args.index_dir, cfg)
                out = {"deleted": idx.delete(pages),
                       "tombstones": idx.manifest["delete_rows"]}
            elif not os.path.exists(
                DedupIndex._manifest_path(args.index_dir)
            ):
                # the bootstrap corpus is recorded under its own input
                # snapshot, so re-running the identical first command is
                # the same idempotent no-op as any later replay
                idx = DedupIndex.build(
                    pages, cfg, args.index_dir, batch_id=batch_id,
                    with_clusters=args.clusters,
                )
                out = {"built": True, "batch_id": batch_id,
                       "index_rows": idx.uniq(spark).count()}
                if args.clusters:
                    out["clusters"] = (
                        idx.clusters(spark).select("cluster")
                        .distinct().count()
                    )
            else:
                idx = DedupIndex.load(args.index_dir, cfg)
                if args.clusters and not idx.manifest.get("clusters"):
                    # surface the mistake on the FIRST run, not months of
                    # silently-unmaintained snapshots later
                    raise SystemExit(
                        "--clusters: the existing index has no cluster "
                        "map (it was built without --clusters); rebuild "
                        "the index to maintain one"
                    )
                if idx.has_batch(batch_id):
                    # replay of an already-ingested input: idempotent no-op
                    out = {"already_ingested": True, "batch_id": batch_id}
                else:
                    res = idx.dedup_batch(pages)
                    obs = Observation()
                    (res.survivors
                     .observe(obs, F.count(F.lit(1)).alias("rows"))
                     .write.mode("overwrite")
                     .parquet(f"{args.out_dir}/survivors"))
                    res.near_pairs.write.mode("overwrite").parquet(
                        f"{args.out_dir}/near_pairs")
                    out = {"batch_id": batch_id,
                           "survivors": int(obs.get["rows"])}
                    if cfg.write_stats:
                        out["exact_hits"] = res.exact_hits.count()
                        out["near_pairs"] = res.near_pairs.count()
                        out["demoted_buckets"] = res.demoted.count()
                    delta = None
                    if idx.manifest.get("clusters"):
                        # map maintenance rides the same run: assignments
                        # for the operator, the delta for the atomic
                        # append commit below — which ingests the WRITTEN
                        # assignments (the survivors discipline: index ==
                        # sink)
                        delta = idx.cluster_batch(res)
                        cobs = Observation()
                        (delta.assignments
                         .observe(cobs, F.count(F.lit(1)).alias("rows"))
                         .write.mode("overwrite")
                         .parquet(f"{args.out_dir}/clusters"))
                        out["clustered"] = int(cobs.get["rows"])
                        delta.assignments = spark.read.parquet(
                            f"{args.out_dir}/clusters"
                        )
                    idx.append(
                        spark.read.parquet(f"{args.out_dir}/survivors"),
                        batch_id,
                        clusters=delta,
                    )
                    if delta is not None:
                        delta.release()
                    res.release()
            if args.compact_after and len(
                idx.manifest["batches"]
            ) >= args.compact_after:
                if idx.compact(spark):
                    out["compacted"] = True
                    out["vacuumed_dirs"] = len(idx.vacuum())
        elif args.mode == "web":
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from humid_spark.plans.webdedup import run_web_pipeline

            res = run_web_pipeline(pages, cfg, store=store)
            out = {}

            # Row counts ride the write actions as observe() metrics —
            # no second scan of the output tables (cf. cc.py's
            # observe-on-checkpoint pattern).
            def _observed_write(df, path):
                obs = Observation()
                (df.observe(obs, F.count(F.lit(1)).alias("rows"))
                 .write.mode("overwrite").parquet(path))
                return int(obs.get["rows"])

            if cfg.write_dedup:
                out["dedup"] = _observed_write(
                    res.dedup, f"{args.out_dir}/pages_dedup")
            if cfg.write_annotated:
                out["annotated"] = _observed_write(
                    res.annotated, f"{args.out_dir}/pages_annotated")
            if cfg.write_stats:
                (res.uniq.groupBy("count")
                 .agg(F.count(F.lit(1)).alias("n_groups"))
                 .write.mode("overwrite").parquet(f"{args.out_dir}/counts"))
                out["stats"] = True
            if cfg.write_stats:
                # lineage: capped coverage is never silent (demoted LSH
                # buckets; demoted winnow fingerprints when
                # --containment).  Under -s only: each count is an
                # aggregation pass over the band table, a real job at
                # scale, so it runs when the user asked for stats.
                out["demoted_buckets"] = res.demoted.count()
                if res.demoted_fps is not None:
                    out["demoted_fingerprints"] = res.demoted_fps.count()
            res.release()
        else:
            from humid_spark.plans.pipeline import run_pipeline, write_outputs

            res = run_pipeline(pages, cfg, store=store)
            write_outputs(res, args.out_dir, cfg)
            out = {
                k: True
                for k, on in (("dedup", cfg.write_dedup),
                              ("annotated", cfg.write_annotated),
                              ("stats", cfg.write_stats))
                if on
            }

        print(json.dumps({"mode": args.mode, "out_dir": args.out_dir,
                          "outputs": out,
                          "elapsed_sec": round(time.time() - t0, 1)}),
              file=log)
    finally:
        if args.log:
            log.close()
        spark.stop()


if __name__ == "__main__":
    main()
