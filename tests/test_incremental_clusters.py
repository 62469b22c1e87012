"""Persistent cluster map (DedupIndex cluster tier): bootstrap at build,
per-batch assignment, merge-on-read remaps, compaction folding, and the
single-snapshot parity invariant — an incremental build over (corpus,
batch) equals a from-scratch build over the union."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from humid_spark.config import DedupConfig
from humid_spark.plans.incremental import DedupIndex
from tests.test_incremental_index import BASE, OTHER, _pages
from tests.test_incremental_index import (
    _assert_scan_joins_unexchanged,
    _plan_nodes,
)

FRESH_A = (
    "entirely novel page discussing spark shuffle partitions and adaptive "
    "query execution with skew join splitting at runtime for large scans"
)


def _doc_id(url: str, spark):
    return spark.createDataFrame([(url,)], "url string").select(
        F.xxhash64("url")
    ).first()[0]


@pytest.fixture()
def cidx(spark, tmp_path):
    """Corpus: BASE + a near-dup of BASE (one cluster of two) + OTHER."""
    cfg = DedupConfig()
    corpus = _pages(
        spark,
        [
            ("http://a/base", BASE),
            ("http://a/basenear", BASE + " extra trailing words"),
            ("http://a/other", OTHER),
        ],
    )
    return DedupIndex.build(
        corpus, cfg, str(tmp_path / "cidx"), with_clusters=True
    )


def test_build_bootstraps_cluster_map(cidx, spark):
    got = {r["doc_id"]: r["cluster"] for r in cidx.clusters(spark).collect()}
    base_id = _doc_id("http://a/base", spark)
    near_id = _doc_id("http://a/basenear", spark)
    other_id = _doc_id("http://a/other", spark)
    assert set(got) == {base_id, near_id, other_id}
    assert got[base_id] == got[near_id] == min(base_id, near_id)
    assert got[other_id] == other_id
    # manifest round-trips the cluster tier
    again = DedupIndex.load(cidx.root, DedupConfig())
    assert again.manifest["clusters"] is True
    assert again.manifest["remap_v"] == 0


def test_cluster_batch_assigns_and_matches_full_rebuild(
    cidx, spark, tmp_path
):
    """One snapshot: exact re-entry (same url), a cross near-dup, a
    within-batch near pair, a singleton.  The committed map must equal a
    from-scratch with_clusters build over corpus+batch (single-snapshot
    parity: no chains through dropped docs)."""
    batch_rows = [
        ("http://a/other", OTHER),                     # exact re-entry
        ("http://b/crossnear", BASE + " tail words"),  # near-dup of BASE
        ("http://b/f1", FRESH_A),                      # within-batch pair
        ("http://b/f2", FRESH_A + " appended tail"),
        ("http://b/single", (
            "unrelated essay on birds migrating across continents during "
            "autumn with long passages about weather patterns and winds"
        )),
    ]
    batch = _pages(spark, batch_rows)
    res = cidx.dedup_batch(batch)
    delta = cidx.cluster_batch(res)

    # within-batch near pair surfaced as lineage (dedup_batch cannot see it)
    f1, f2 = _doc_id("http://b/f1", spark), _doc_id("http://b/f2", spark)
    assert {(r["src"], r["dst"]) for r in delta.batch_pairs.collect()} == {
        (min(f1, f2), max(f1, f2))
    }

    cidx.append(res.survivors, "b", clusters=delta)
    res.release()
    delta.release()
    got = {
        r["doc_id"]: r["cluster"] for r in cidx.clusters(spark).collect()
    }

    full = DedupIndex.build(
        _pages(
            spark,
            [
                ("http://a/base", BASE),
                ("http://a/basenear", BASE + " extra trailing words"),
                ("http://a/other", OTHER),
            ]
            + batch_rows,
        ),
        DedupConfig(),
        str(tmp_path / "full"),
        with_clusters=True,
    )
    want = {
        r["doc_id"]: r["cluster"] for r in full.clusters(spark).collect()
    }
    assert got == want
    # and concretely: the cross near-dup joined BASE's cluster even though
    # it was never ingested (dropped docs keep a map row)
    cross = _doc_id("http://b/crossnear", spark)
    base_id = _doc_id("http://a/base", spark)
    assert got[cross] == got[base_id]
    assert got[f1] == got[f2] == min(f1, f2)


def test_batch_bridge_merges_existing_clusters(spark, tmp_path):
    """A batch doc near-similar to TWO existing singleton clusters merges
    them: the larger roots land in the remap table (merge-on-read), the
    resolved map relabels every member, and compact folds the remap away."""
    # Shingle-set construction: X = C+Qx, Y = C+Qy, Z = C+Qx+Qy gives
    # J(Z,X) = J(Z,Y) ~ 2/3 and J(X,Y) ~ 1/3; with 32 bands x 4 rows the
    # 2/3 pairs band-collide w.h.p. and threshold 0.5 splits the two
    # Jaccard levels with ~4-sigma margins on a 128-perm estimate.
    c = " ".join(f"common{i} stone{i}" for i in range(30))
    qx = " ".join(f"xonly{i} river{i}" for i in range(30))
    qy = " ".join(f"yonly{i} ember{i}" for i in range(30))
    cfg = DedupConfig(lsh_bands=32, jaccard_threshold=0.5)
    idx = DedupIndex.build(
        _pages(spark, [("http://m/x", c + " " + qx),
                       ("http://m/y", c + " " + qy)]),
        cfg,
        str(tmp_path / "m"),
        with_clusters=True,
    )
    xid, yid = _doc_id("http://m/x", spark), _doc_id("http://m/y", spark)
    assert {r_["cluster"] for r_ in idx.clusters(spark).collect()} == {
        xid, yid
    }  # two singleton clusters before the bridge

    res = idx.dedup_batch(
        _pages(spark, [("http://m/z", c + " " + qx + " " + qy)])
    )
    zid = _doc_id("http://m/z", spark)
    assert {row["src"] for row in res.near_pairs.collect()} == {zid}
    assert {row["dst"] for row in res.near_pairs.collect()} == {xid, yid}
    delta = idx.cluster_batch(res)
    idx.append(res.survivors, "z", clusters=delta)
    res.release()
    delta.release()

    root = min(xid, yid, zid)
    got = {r_["doc_id"]: r_["cluster"] for r_ in idx.clusters(spark).collect()}
    assert got == {xid: root, yid: root, zid: root}
    # exactly the losing roots appear in the remap table, root-resolved
    remap = {
        (r_["old_cluster"], r_["new_cluster"])
        for r_ in idx.remap(spark).collect()
    }
    assert remap == {(c, root) for c in (xid, yid) if c != root}

    # compaction folds the remap into the map and resets it — and is
    # idempotent (the remap_rows fact drives the no-op check, not the
    # version counter)
    assert idx.compact(spark) is True
    assert idx.remap(spark).count() == 0
    assert idx.compact(spark) is False
    got2 = {
        r_["doc_id"]: r_["cluster"] for r_ in idx.clusters(spark).collect()
    }
    assert got2 == got
    removed = idx.vacuum()
    assert removed  # pre-compaction snapshots + old remap versions
    # reload sees the compacted, folded state
    again = DedupIndex.load(idx.root, cfg)
    got3 = {
        r_["doc_id"]: r_["cluster"]
        for r_ in again.clusters(spark).collect()
    }
    assert got3 == got


@pytest.mark.parametrize("seed", [7, 19])
def test_randomized_split_parity_with_full_rebuild(spark, tmp_path, seed):
    """Randomized topologies: split a realistic near-dup corpus
    (fx_webtext plants exact/near families that STRADDLE the split), run
    build -> dedup_batch -> cluster_batch -> append, and demand the
    committed map equals a from-scratch with_clusters build over the
    union.  Cross-split exact twins are pre-dropped from the batch: the
    incremental tier keeps first-seen identity for exact groups while a
    full rebuild picks the global min doc_id — a labeling difference, not
    a clustering one, excluded by construction so the maps compare
    directly."""
    from humid_spark.sources.pages import fx_webtext, to_spark

    rows = fx_webtext(n_seeds=30, seed=seed)
    corpus_rows = rows[0::2]
    corpus_texts = {r["text"] for r in corpus_rows}
    batch_rows = [r for r in rows[1::2] if r["text"] not in corpus_texts]
    cfg = DedupConfig()
    idx = DedupIndex.build(
        to_spark(spark, corpus_rows), cfg,
        str(tmp_path / f"r{seed}"), with_clusters=True,
    )
    res = idx.dedup_batch(to_spark(spark, batch_rows))
    delta = idx.cluster_batch(res)
    idx.append(res.survivors, "b", clusters=delta)
    res.release()
    delta.release()
    # the batch's map rows and the new remap version are one file each,
    # not one per shuffle partition of the fresh side
    for d in (
        idx._batch_dir(idx._clusters_dir(idx.root), "b"),
        os.path.join(idx._remaps_dir(idx.root), "v-1"),
    ):
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1
    got = {r["doc_id"]: r["cluster"] for r in idx.clusters(spark).collect()}

    full = DedupIndex.build(
        to_spark(spark, corpus_rows + batch_rows), cfg,
        str(tmp_path / f"f{seed}"), with_clusters=True,
    )
    want = {
        r["doc_id"]: r["cluster"] for r in full.clusters(spark).collect()
    }
    assert got == want
    # non-vacuous: the split produced real cross links
    assert any(got[k] != k for k in got)


def test_annotate_batch_per_page_clusters(cidx, spark):
    """Every batch page gets a cluster_id: exact hits follow the index's
    first-seen doc to its current cluster, fresh pages follow the delta,
    unusable pages get the reserved 0 (webdedup annotate convention)."""
    batch = _pages(
        spark,
        [
            ("http://n/exact", OTHER),                  # exact re-entry
            ("http://n/near", BASE + " tail words"),    # near-dup of BASE
            ("http://n/fresh", FRESH_A),                # genuinely new
            ("http://n/short", "tiny"),                 # unusable (< k)
        ],
    )
    res = cidx.dedup_batch(batch)
    delta = cidx.cluster_batch(res)
    ann = cidx.annotate_batch(batch, res, delta)
    assert set(ann.columns) == {
        "url", "warc_ts", "html", "text", "lang", "doc_id", "usable",
        "cluster_id",
    }
    got = {r["url"]: (r["usable"], r["cluster_id"]) for r in ann.collect()}
    assert len(got) == 4
    base_id = _doc_id("http://a/base", spark)
    basenear_id = _doc_id("http://a/basenear", spark)
    other_id = _doc_id("http://a/other", spark)
    near_id = _doc_id("http://n/near", spark)
    fresh_id = _doc_id("http://n/fresh", spark)
    assert got["http://n/exact"] == (True, other_id)  # index identity
    assert got["http://n/near"] == (
        True, min(base_id, basenear_id, near_id)
    )
    assert got["http://n/fresh"] == (True, fresh_id)  # own singleton
    assert got["http://n/short"] == (False, 0)
    # plan hygiene holds on the user-facing surface too
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    res.release()
    delta.release()


def test_canonical_url_identity_reaches_annotate_and_delete(
    spark, tmp_path
):
    """With canonicalize_urls, a page ingested under one url variant keeps
    ONE identity across the incremental tier: a re-crawl under another
    variant annotates with the ingested doc's id and cluster, and a
    takedown by a third variant removes the ingested row and map entry."""
    idx = DedupIndex.build(
        _pages(spark, [("http://c.example/a", BASE),
                       ("http://c.example/b", OTHER)]),
        DedupConfig(canonicalize_urls=True),
        str(tmp_path / "canon"),
        with_clusters=True,
    )
    a_id = _doc_id("http://c.example/a", spark)
    batch = _pages(
        spark, [("HTTP://C.Example/a/?utm_source=feed#top", BASE)]
    )
    res = idx.dedup_batch(batch)
    delta = idx.cluster_batch(res)
    row = idx.annotate_batch(batch, res, delta).first()
    assert (row["doc_id"], row["cluster_id"]) == (a_id, a_id)
    assert res.exact_hits.count() == 1
    res.release()
    delta.release()

    takedown = spark.createDataFrame(
        [("http://C.EXAMPLE:80/a#frag",)], "url string"
    )
    assert idx.delete(takedown) == 2  # uniq row + map-scrub identity row
    assert a_id not in {r["doc_id"] for r in idx.uniq(spark).collect()}
    assert a_id not in {r["doc_id"] for r in idx.clusters(spark).collect()}
    assert idx.uniq(spark).count() == 1  # the other page is untouched


def test_cluster_tier_guards(cidx, spark, tmp_path):
    batch = _pages(spark, [("http://g/x", FRESH_A)])
    res = cidx.dedup_batch(batch)
    with pytest.raises(ValueError, match="cluster map"):
        cidx.append(res.survivors, "g")  # delta required once maintained
    plain = DedupIndex.build(
        _pages(spark, [("http://g/a", BASE)]),
        DedupConfig(),
        str(tmp_path / "plain"),
    )
    res2 = plain.dedup_batch(batch)
    with pytest.raises(ValueError, match="cluster map"):
        plain.cluster_batch(res2)
    delta = cidx.cluster_batch(res)
    with pytest.raises(ValueError, match="cluster map"):
        plain.append(res2.survivors, "g", clusters=delta)
    res.release()
    res2.release()
    delta.release()


def test_cluster_map_scan_never_shuffles(cidx, spark):
    """The 100-TB contract extends to the cluster tier: the corpus-sized
    cluster map is SCANNED (probed against broadcast batch-derived keys),
    never exchanged, and no plan degrades to a cartesian.  Asserted on
    clusters_of — the probe cluster_batch runs — BEFORE materialization
    (cluster_batch's own eager CC checkpoint hides the scan behind an
    InMemoryTableScan)."""
    lookup = spark.createDataFrame(
        [(_doc_id("http://a/base", spark),), (12345,)], "doc_id long"
    )
    probe = cidx.clusters_of(spark, lookup)
    nodes = _plan_nodes(probe)
    _assert_scan_joins_unexchanged(
        nodes, lambda s: "cluster:bigint" in s, "cluster-map"
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    got = {r["doc_id"]: r["cluster"] for r in probe.collect()}
    assert got[12345] == 12345  # own-id default for never-seen docs

    batch = _pages(
        spark, [("http://p/x", BASE + " tail"), ("http://p/y", FRESH_A)]
    )
    res = cidx.dedup_batch(batch)
    delta = cidx.cluster_batch(res)
    for df in (delta.assignments, delta.remap):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
    res.release()
    delta.release()


def test_snapshot_release_leaves_no_executor_storage(spark, tmp_path):
    """The incremental counterpart of the web path's release check: a
    full snapshot (build with clusters, dedup_batch, cluster_batch,
    append) followed by res.release() and delta.release() leaves no RDD
    blocks of its own in executor storage — CC's final checkpoint and the
    superseded edge checkpoint included."""
    import time

    def stored_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = stored_ids()
    idx = DedupIndex.build(
        _pages(spark, [("http://a/base", BASE), ("http://a/other", OTHER)]),
        DedupConfig(),
        str(tmp_path / "leak"),
        with_clusters=True,
    )
    res = idx.dedup_batch(_pages(spark, [
        ("http://b/crossnear", BASE + " tail words"),
        ("http://b/f1", FRESH_A),
        ("http://b/f2", FRESH_A + " appended tail"),
    ]))
    delta = idx.cluster_batch(res)
    idx.append(res.survivors, "b", clusters=delta)
    assert stored_ids() - before, "the snapshot should persist intermediates"
    res.release()
    delta.release()
    for _ in range(50):  # unpersist is async; poll briefly
        leaked = stored_ids() - before
        if not leaked:
            break
        time.sleep(0.2)
    assert not leaked, f"persisted blocks leaked past release(): {leaked}"


def test_snapshot_job_budget(cidx, spark):
    """One snapshot (dedup_batch -> cluster_batch -> append) runs a fixed
    number of Spark jobs: dedup_batch materializes the batch side once,
    and nothing after it re-runs the index-scanning chain.  A lazy frame
    that some later step re-plans shows up here as extra jobs."""
    sc = spark.sparkContext
    batch = _pages(spark, [
        ("http://b/exact", OTHER),
        ("http://b/crossnear", BASE + " tail words"),
        ("http://b/f1", FRESH_A),
        ("http://b/f2", FRESH_A + " appended tail"),
    ])
    jobs = {}
    try:
        for phase, step in (
            ("dedup", lambda: cidx.dedup_batch(batch)),
            ("cluster", lambda: cidx.cluster_batch(res)),
            ("append", lambda: cidx.append(res.survivors, "b", clusters=delta)),
        ):
            group = f"job-budget-{phase}"
            sc.setJobGroup(group, group)
            out = step()
            if phase == "dedup":
                res = out
            elif phase == "cluster":
                delta = out
            jobs[phase] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res.release()
    delta.release()
    # the batch merged a cluster, so the remap write is in the count
    assert cidx.manifest["remap_rows"] == 1
    # measured on this fixture: dedup 22, cluster 18 (its batch graph is
    # labelled on the driver), append 6
    assert sum(jobs.values()) <= 46, jobs


def test_cluster_batch_over_driver_budget_fails_loudly(
    cidx, spark, monkeypatch
):
    """cluster_batch labels its batch graph on the driver and has no
    star-round fallback: a graph over cc.DRIVER_EDGE_BUDGET raises with a
    message naming the limit, and one at the budget is labelled."""
    from humid_spark.operators import cc

    batch = _pages(spark, [
        # two cross edges (to BASE and its corpus near-dup) and one
        # internal edge (f1 - f2): a graph of three edges
        ("http://b/crossnear", BASE + " tail words"),
        ("http://b/f1", FRESH_A),
        ("http://b/f2", FRESH_A + " appended tail"),
    ])
    res = cidx.dedup_batch(batch)
    try:
        monkeypatch.setattr(cc, "DRIVER_EDGE_BUDGET", 2)
        with pytest.raises(RuntimeError, match="DRIVER_EDGE_BUDGET = 2"):
            cidx.cluster_batch(res)
        monkeypatch.setattr(cc, "DRIVER_EDGE_BUDGET", 3)
        delta = cidx.cluster_batch(res)
        f1 = _doc_id("http://b/f1", spark)
        f2 = _doc_id("http://b/f2", spark)
        got = {r["doc_id"]: r["cluster"] for r in delta.assignments.collect()}
        assert got[f1] == got[f2] == min(f1, f2)
        delta.release()
    finally:
        res.release()
