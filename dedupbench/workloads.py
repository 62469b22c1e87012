"""The benchmark's workloads, driven through the engine's public API.

``web_crawl`` runs crawl snapshots through ``run_web_pipeline`` and writes
the dedup table (the CLI ``-q`` path).  ``incremental_snapshots`` builds a
``DedupIndex`` and feeds it snapshots, then deletes, compacts and reads.

Traced passes run the same plans with ``Tracer.layers`` wrapped around
the operator entry points they call, so each operator's output is
persisted and counted inside its span and its work lands there; what a
plan composes inline between those calls stays in the enclosing span.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import generate
import truth

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
T_START = time.perf_counter()

SCALES = {
    # crawl: family, site and embedding pages per crawl snapshot; variants /
    # copies: tokened and byte-identical copies of its mirror page; base /
    # snap / delete: index corpus, pages per index snapshot, pages deleted
    # by maintenance; reads: base words of the parity read set
    "full": dict(crawl=700, variants=560, copies=1000, base=800, snap=200,
                 delete=20, reads=300),
    "toy": dict(crawl=300, variants=40, copies=60, base=300, snap=80,
                delete=5, reads=30),
}

RECALL_FLOOR = 0.99


def log(msg: str) -> None:
    print(f"dedupbench [{time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def no_span(_name: str):
    return nullcontext()


@dataclass
class Ctx:
    """One run: the session (set once it is up), its tracer, a work
    directory removed by the caller, and the run's operation and check
    accounting."""

    tracer: object
    work: str
    seed: int
    seconds: float
    sizes: dict
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn):
        """Run one operation; a failure is logged and counted, and the
        workload carries on.  Returns (ok, value)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 - one failed operation must not end the run
            self.failed += 1
            print(f"dedupbench: {name} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return False, None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            print(f"dedupbench: check failed: {what}", file=sys.stderr)


def write_pages(pages, path: str) -> int:
    """Write records with ``url`` and ``text`` as a pages table of four
    files, like a crawl's output; returns the text bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(pages) // 4)
    for f in range(4):
        chunk = pages[f * step:(f + 1) * step]
        texts = [p.text for p in chunk]
        pq.write_table(pa.table({
            "url": pa.array([p.url for p in chunk], pa.string()),
            "warc_ts": pa.array(
                [EPOCH + timedelta(seconds=f * step + i) for i in range(len(chunk))],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([t.encode() for t in texts], pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(chunk), pa.string()),
        }), os.path.join(path, f"part-{f:05d}.parquet"))
    return sum(len(p.text.encode()) for p in pages)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``; Spark's hidden
    checksum and marker files are left out."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _release(frames) -> None:
    for f in frames:
        f.unpersist()


class Scores:
    """Per-group recalls and per-cluster precisions pooled over the passes
    of one run (see ``truth.group_scores``)."""

    def __init__(self):
        self.recalls: list[float] = []
        self.precisions: list[float] = []

    def add(self, pages, cluster_of_url: dict, cfg) -> None:
        """Score the pages that carry a cluster against their true pairs."""
        cluster_of_text = {p.text: cluster_of_url[p.url] for p in pages
                           if p.url in cluster_of_url}
        true = truth.true_pairs(
            [p for p in pages if p.text in cluster_of_text],
            cfg.shingle_k, cfg.jaccard_threshold,
        )
        recalls, precisions = truth.group_scores(true, cluster_of_text)
        self.recalls += recalls
        self.precisions += precisions

    def result(self) -> tuple[float, float]:
        return truth.mean(self.recalls), truth.mean(self.precisions)


# ---------------------------------------------------------------------------
# web_crawl
# ---------------------------------------------------------------------------

def crawl_config():
    """The default signature and LSH configuration with the containment
    pass on."""
    from humid_spark.config import DedupConfig

    return DedupConfig(use_containment=True)


def web_layers() -> list:
    """The operator entry points ``run_web_pipeline`` calls, as
    ``Tracer.layers`` targets.  The exact collapse is built inline and is
    forced as the input of ``band_buckets``."""
    from humid_spark.functions import signatures
    from humid_spark.operators import containment, lsh
    from humid_spark.plans import webdedup

    return [
        (signatures, "minhash_map_in_arrow", "signatures.minhash", None),
        (lsh, "band_buckets", "lsh.band_buckets", "webdedup.exact_collapse"),
        (lsh, "candidate_pairs", "lsh.candidate_pairs", None),
        (lsh, "verify_pairs", "lsh.verify_pairs", None),
        (containment, "containment_pairs", "containment.pairs", None),
        (webdedup, "connected_components", "cc.components", None),
    ]


def web_pass(spark, in_path: str, out_path: str, cfg, tracer=None,
             keep=None):
    """The CLI ``-q`` path: read pages, run the web pipeline, write the
    dedup table.  With a ``tracer`` the cluster fan-out is forced in its
    own span before the write.  The caller releases the result."""
    from humid_spark.plans.webdedup import run_web_pipeline

    span = tracer.span if tracer else no_span
    with span("sources.scan"):
        pages = spark.read.parquet(in_path)
    res = run_web_pipeline(pages, cfg)
    if tracer:
        tracer.forced("webdedup.annotate", res.clusters, keep)
    with span("webdedup.dedup"):
        res.dedup.write.mode("overwrite").parquet(out_path)
    return res


def traced_web_pass(ctx: Ctx, in_path: str, out_path: str, cfg, keep: list):
    """``web_pass`` with a span at each layer boundary."""
    tracer = ctx.tracer
    with tracer.layers(web_layers(), keep):
        return web_pass(ctx.spark, in_path, out_path, cfg, tracer, keep)


def web_counters(tracer, res) -> dict:
    """The web layers' counters, from a traced pass's forced outputs."""
    from pyspark.sql import functions as F

    out = tracer.outputs
    n_usable = out["signatures.minhash"][1]
    n_uniq = out["webdedup.exact_collapse"][1]
    buckets = out["lsh.band_buckets"][0]
    n_cand = out["lsh.candidate_pairs"][1]
    n_pairs = out["lsh.verify_pairs"][1]
    n_cont = out["containment.pairs"][1] if "containment.pairs" in out else 0
    comp_sizes = out["cc.components"][0].groupBy("component").count()
    return {
        "webdedup.unique_ratio": n_uniq / max(n_usable, 1),
        "lsh.candidates": n_cand,
        "lsh.verified": n_pairs,
        "lsh.verify_yield": n_pairs / max(n_cand, 1),
        "lsh.demoted_buckets": res.demoted.count(),
        "lsh.max_bucket_rows": buckets.groupBy("band", "bucket").count()
        .agg(F.max("count")).first()[0] or 0,
        "containment.edges": n_cont,
        "containment.demoted_fps": res.demoted_fps.count()
        if res.demoted_fps is not None else 0,
        "cc.edges": n_pairs + n_cont,
        "cc.components": comp_sizes.count(),
        "cc.max_component_nodes": comp_sizes.agg(F.max("count")).first()[0] or 0,
    }


def crawl_prepare(ctx: Ctx) -> None:
    """Write the warm-up snapshot (before set-up is timed)."""
    z = ctx.sizes
    write_pages(generate.web_crawl(ctx.seed + 7919, z["crawl"], z["variants"],
                                   z["copies"]), ctx.path("warm-in"))


def crawl_setup(ctx: Ctx) -> None:
    """Warm-up: one pass over a full-size snapshot.  After a small slice
    the first timed pass still ran about 25% slower than the third, by an
    amount that varied from run to run."""
    web_pass(ctx.spark, ctx.path("warm-in"), ctx.path("warm-out"),
             crawl_config()).release(checkpoints=True)


def _cluster_of(res) -> dict:
    return {r.url: r.cluster_id
            for r in res.annotated.select("url", "cluster_id").collect()}


def crawl_run(ctx: Ctx, trace: bool) -> dict:
    """Passes, each over a fresh crawl snapshot, until ``seconds`` of pass
    time have accumulated.  With ``trace``: one untraced pass, a traced
    pass over the same input, then a traced parity pass."""
    cfg, sizes = crawl_config(), ctx.sizes
    walls, n_pages, text_bytes, out_bytes = [], 0, 0, 0
    scores = Scores()
    i = 0
    while sum(walls) < ctx.seconds and ctx.failed < 3:
        pages = generate.web_crawl(ctx.seed * 1000 + i, sizes["crawl"],
                                   sizes["variants"], sizes["copies"])
        in_path, out_path = ctx.path(f"crawl-{i}-in"), ctx.path(f"crawl-{i}-out")
        i += 1
        nbytes = write_pages(pages, in_path)
        t0 = time.perf_counter()
        ok, res = ctx.op("web pass", lambda: web_pass(
            ctx.spark, in_path, out_path, cfg))
        wall = time.perf_counter() - t0
        log(f"web pass {i}: {wall:.2f}s")
        if not ok:
            continue
        walls.append(wall)
        n_pages += len(pages)
        text_bytes += nbytes
        out_bytes += dir_bytes(out_path)[1]
        cluster_of = _cluster_of(res)
        res.release(checkpoints=True)
        _check_crawl_pass(ctx, pages, cluster_of, out_path)
        scores.add(pages, cluster_of, cfg)
        if trace:
            keep: list = []
            t1 = time.perf_counter()
            with ctx.tracer.span("web.pass"):
                ok, res = ctx.op("traced web pass", lambda: traced_web_pass(
                    ctx, in_path, ctx.path("traced-out"), cfg, keep))
            traced_wall = time.perf_counter() - t1
            if ok:
                ctx.check(_cluster_of(res) == cluster_of,
                          "traced pass clusters equal the untraced pass clusters")
                ctx.counters.update(web_counters(ctx.tracer, res))
                ctx.counters["trace.overhead_s"] = traced_wall - wall
                ctx.counters["trace.overhead_share"] = traced_wall / wall - 1
                res.release(checkpoints=True)
            _release(keep)
            parity_traced(ctx)
            break
    recall, precision = scores.result()
    ctx.check(bool(walls), "at least one web pass completed")
    ctx.check(recall >= RECALL_FLOOR,
              f"dup_pair_recall {recall:.4f} >= {RECALL_FLOOR}")
    return {
        "pages_per_s": n_pages / sum(walls) if walls else 0.0,
        "snapshot_s_p50": statistics.median(walls) if walls else 0.0,
        "disk_bytes_per_input_byte": out_bytes / text_bytes if walls else 0.0,
        "dup_pair_recall": recall,
        "dup_pair_precision": precision,
    }


def _check_crawl_pass(ctx: Ctx, pages, cluster_of: dict, out_path: str) -> None:
    ctx.check(len(cluster_of) == len(pages) and all(cluster_of.values()),
              "every crawl page carries a cluster id")
    ctx.check(truth.copies_share_cluster(pages, cluster_of),
              "byte-identical pages share one cluster")
    n_out = ctx.spark.read.parquet(out_path).count()
    n_clusters = len(set(cluster_of.values()))
    ctx.check(n_out == n_clusters,
              f"dedup table has one row per cluster ({n_out} rows, "
              f"{n_clusters} clusters)")


# ---------------------------------------------------------------------------
# parity pass: HUMID's own semantics, traced runs only
# ---------------------------------------------------------------------------

def parity_config():
    from humid_spark.config import REFERENCE_DEFAULTS

    return dataclasses.replace(
        REFERENCE_DEFAULTS, write_annotated=True, write_stats=True)


def parity_layers() -> list:
    """The operator entry points ``run_pipeline`` calls, as
    ``Tracer.layers`` targets."""
    from humid_spark.operators import blocking, exact, stats
    from humid_spark.plans import pipeline

    return [
        (exact, "unique_keys", "exact.unique_keys", None),
        (blocking, "hamming_pairs", "blocking.hamming_pairs", None),
        (pipeline, "cluster_keys", "directional.cluster_keys", None),
        (stats, "representatives", "stats.representatives", None),
    ]


def parity_traced(ctx: Ctx) -> None:
    """``run_pipeline`` + ``write_outputs`` at the reference defaults with
    a span at each layer boundary, checked against the reference greedy
    clustering."""
    from humid_spark.plans.pipeline import run_pipeline, write_outputs

    cfg = parity_config()
    reads = generate.reads(ctx.seed, ctx.sizes["reads"], cfg.word_length)
    in_path, out_path = ctx.path("reads-in"), ctx.path("reads-out")
    write_pages(reads, in_path)
    tracer, keep = ctx.tracer, []

    def traced():
        with tracer.layers(parity_layers(), keep):
            res = run_pipeline(ctx.spark.read.parquet(in_path), cfg)
            with tracer.span("pipeline.write_outputs"):
                write_outputs(res, out_path, cfg)
        return {r.key: r.cluster_id
                for r in res.clusters.select("key", "cluster_id").collect()}

    try:
        with tracer.span("parity.pass"):
            ok, got = ctx.op("parity pass", traced)
        if not ok:
            return
        want = truth.oracle_clusters(reads, cfg.word_length)
        ctx.check(got == want,
                  "parity cluster ids equal the reference greedy clustering")
        n_dedup = ctx.spark.read.parquet(f"{out_path}/pages_dedup").count()
        ctx.check(n_dedup == len(set(want.values())),
                  "parity dedup table has one row per cluster")
        ctx.counters.update({
            "exact.keys": tracer.outputs["exact.unique_keys"][1],
            "blocking.pairs": tracer.outputs["blocking.hamming_pairs"][1],
            "directional.clusters": len(set(got.values())),
        })
    finally:
        _release(keep)


# ---------------------------------------------------------------------------
# incremental_snapshots
# ---------------------------------------------------------------------------

class IndexRun:
    """A ``DedupIndex`` over the base corpus, its inputs, and the pages
    applied to it so far.  The base corpus and a warm-up snapshot are
    written when the run is made; ``build`` plus ``warm_up`` is the run's
    set-up.  Without the warm-up snapshot the first timed snapshot still
    compiles the batch plans and ran 5-25% slower than the next one, by an
    amount that varied from run to run."""

    def __init__(self, ctx: Ctx):
        from humid_spark.config import DedupConfig

        self.ctx = ctx
        self.cfg = DedupConfig()
        self.root = ctx.path("index")
        self.base = generate.index_base(ctx.seed, ctx.sizes["base"])
        self.pages = list(self.base)
        self.text_bytes = write_pages(self.base, ctx.path("base-in"))
        self.applied = 0
        self.deleted: set[str] = set()
        self.index = None
        self.warm_input = self.next_snapshot()

    def build(self) -> None:
        from humid_spark.plans.incremental import DedupIndex

        ctx = self.ctx
        with ctx.tracer.span("incremental.build"):
            self.index = DedupIndex.build(
                ctx.spark.read.parquet(ctx.path("base-in")), self.cfg,
                self.root, with_clusters=True,
            )

    def warm_up(self) -> None:
        """Apply the warm-up snapshot (snapshot 0)."""
        self.apply(*self.warm_input)

    def next_snapshot(self) -> tuple[list, str]:
        pages = generate.snapshot(self.ctx.seed, self.base, self.applied,
                                  self.ctx.sizes["snap"])
        path = self.ctx.path(f"snap-{self.applied}-in")
        write_pages(pages, path)
        return pages, path

    def apply(self, pages, path: str, traced: bool = False) -> dict:
        """dedup_batch -> cluster_batch -> append.  ``traced`` records a span
        per step, forces each step's output inside it and returns the tier
        counts."""
        spark, idx = self.ctx.spark, self.index
        span = self.ctx.tracer.span if traced else no_span
        counts = {}
        with span("incremental.dedup_batch"):
            res = idx.dedup_batch(spark.read.parquet(path))
            if traced:
                counts = {
                    "incremental.exact_hits": res.exact_hits.count(),
                    "incremental.near_pairs": res.near_pairs.count(),
                    "incremental.survivors": res.survivors.count(),
                }
        try:
            with span("incremental.cluster_batch"):
                delta = idx.cluster_batch(res)
                if traced:
                    delta.assignments.count()
            try:
                with span("incremental.append"):
                    idx.append(res.survivors, f"snap-{self.applied}",
                               clusters=delta)
            finally:
                delta.release()
        finally:
            res.release()
        self.applied += 1
        self.pages += pages
        self.text_bytes += sum(len(p.text.encode()) for p in pages)
        return counts

    def delete(self) -> None:
        """Take down a slice of the base corpus by url."""
        gone = self.base[: self.ctx.sizes["delete"]]
        with self.ctx.tracer.span("incremental.delete"):
            self.index.delete(self.ctx.spark.createDataFrame(
                [(p.url,) for p in gone], "url string"))
        self.deleted = {p.url for p in gone}

    def compact(self) -> None:
        """Compact, then read the folded index back."""
        span = self.ctx.tracer.span
        with span("incremental.compact"):
            self.index.compact(self.ctx.spark)
        with span("incremental.read"):
            self.index.uniq(self.ctx.spark).count()

    def cluster_of_url(self) -> dict:
        """Each page's cluster in the index's final cluster map: by its own
        doc id when the map holds it, else through the doc that holds its
        text.  Pages whose content was deleted map to nothing."""
        from pyspark.sql import functions as F

        from humid_spark.functions import keys

        spark, idx = self.ctx.spark, self.index
        by_url = {p.url: p.text for p in self.pages}
        pages = spark.createDataFrame(list(by_url.items()), "url string, text string")
        cmap = idx.clusters(spark)
        by_text = (
            idx.uniq(spark).select("text_hash", F.col("doc_id").alias("rep"))
            .join(cmap.select(F.col("doc_id").alias("rep"),
                              F.col("cluster").alias("text_cluster")), "rep")
            .select("text_hash", "text_cluster")
        )
        rows = (
            pages.withColumn("doc_id", keys.doc_id_expr(F.col("url")))
            .withColumn("text_hash", F.xxhash64("text"))
            .join(cmap, "doc_id", "left")
            .join(by_text, "text_hash", "left")
            .select("url", F.coalesce("cluster", "text_cluster").alias("c"))
            .collect()
        )
        return {r.url: r.c for r in rows if r.c is not None}


def index_run(ctx: Ctx, run: IndexRun, trace: bool) -> dict:
    """Snapshots until ``seconds`` of snapshot time have accumulated, then
    maintenance.  With ``trace``: one untraced snapshot, one traced
    snapshot, traced maintenance."""
    walls, n_pages = [], 0
    while len(walls) < 2 if trace else sum(walls) < ctx.seconds:
        pages, path = run.next_snapshot()
        traced = trace and len(walls) == 1
        t0 = time.perf_counter()
        with ctx.tracer.span("incremental.snapshot") if traced else nullcontext():
            ok, counts = ctx.op("snapshot", lambda: run.apply(pages, path, traced))
        wall = time.perf_counter() - t0
        log(f"snapshot {run.applied}: {wall:.2f}s")
        if not ok:
            break
        walls.append(wall)
        n_pages += len(pages)
        if traced:
            ctx.counters.update(counts)
            ctx.counters["trace.overhead_s"] = wall - walls[0]
            ctx.counters["trace.overhead_share"] = wall / walls[0] - 1
    files, index_bytes = dir_bytes(run.root)
    t0 = time.perf_counter()
    ctx.op("delete", run.delete)
    ctx.op("compact", run.compact)
    maintenance = time.perf_counter() - t0
    ctx.counters.update({
        "incremental.index_files": files,
        "incremental.index_bytes": index_bytes,
        "incremental.maintenance_s": maintenance,
    })

    cluster_of = run.cluster_of_url()
    deleted_texts = {p.text for p in run.base if p.url in run.deleted}
    live = [p for p in run.pages if p.text not in deleted_texts]
    mapped = all(p.url in cluster_of for p in live)
    ctx.check(bool(walls), "at least one snapshot completed")
    ctx.check(mapped, "every live page maps to a cluster in the final cluster map")
    if mapped:
        ctx.check(truth.copies_share_cluster(live, cluster_of),
                  "byte-identical pages share one cluster")
    scores = Scores()
    scores.add(live, cluster_of, run.cfg)
    recall, precision = scores.result()
    return {
        "pages_per_s": n_pages / (sum(walls) + maintenance) if walls else 0.0,
        "snapshot_s_p50": statistics.median(walls) if walls else 0.0,
        "disk_bytes_per_input_byte": index_bytes / run.text_bytes,
        "dup_pair_recall": recall,
        "dup_pair_precision": precision,
    }
