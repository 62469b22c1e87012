"""DedupIndex lifecycle: build/load config guard, batch classification
(exact / near / fresh), append-then-requery convergence, duplicate-batch
guard, empty batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from humid_spark.config import DedupConfig
from humid_spark.plans.incremental import DedupIndex
from humid_spark.sources.pages import PAGES_SCHEMA


def _pages(spark, rows):
    # rows: (url, text)
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(u, ts, None, t, "en") for u, t in rows], PAGES_SCHEMA
    )


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest where nobody ever goes at night time"
)
OTHER = (
    "completely different content about databases indexes and storage "
    "engines with columnar layouts and vectorized execution pipelines"
)


@pytest.fixture()
def index(spark, tmp_path):
    cfg = DedupConfig()
    corpus = _pages(
        spark,
        [("http://a/1", BASE), ("http://a/2", OTHER),
         ("http://a/2b", OTHER)],  # exact dup inside the corpus
    )
    return DedupIndex.build(corpus, cfg, str(tmp_path / "idx"))


def test_build_collapses_exact_and_load_guards_config(index, spark):
    assert index.uniq(spark).count() == 2  # OTHER's copy collapsed
    with pytest.raises(ValueError, match="config mismatch"):
        DedupIndex.load(index.root, DedupConfig(shingle_k=7))
    again = DedupIndex.load(index.root, DedupConfig())
    assert again.manifest["batches"] == ["initial"]
    with pytest.raises(ValueError, match="already exists"):
        DedupIndex.build(_pages(spark, []), DedupConfig(), index.root)


def test_batch_dirs_injective_for_colliding_ids(index, spark):
    """Sanitization alone maps 'a/b' and 'a_b' onto the same directory —
    appending the second would silently overwrite the first batch's
    parquet while the committed list reads the shared path twice.  The
    round-6 hash suffix keeps distinct raw ids on distinct dirs."""
    d1 = index._batch_dir("/base", "a/b")
    d2 = index._batch_dir("/base", "a_b")
    d3 = index._batch_dir("/base", "a b")
    assert len({d1, d2, d3}) == 3
    # already-safe ids keep their legacy un-suffixed layout
    assert index._batch_dir("/base", "stream-7").endswith("batch-stream-7")
    # end to end: both batches' rows survive side by side
    fresh1 = _pages(spark, [("http://f/1",
                             "unique page one about orchestration engines "
                             "and their scheduling of wide shuffle stages")])
    fresh2 = _pages(spark, [("http://f/2",
                             "unique page two about columnar file formats "
                             "and predicate pushdown into parquet scans")])
    r1 = index.dedup_batch(fresh1)
    index.append(r1.survivors, "a/b")
    r1.release()
    r2 = index.dedup_batch(fresh2)
    index.append(r2.survivors, "a_b")
    r2.release()
    assert index.uniq(spark).count() == 4  # 2 corpus + both batches


def test_batch_classification_and_append_convergence(index, spark):
    near = BASE.replace("lazy dog", "sleepy dog")  # one-token edit
    fresh = (
        "entirely novel page discussing spark shuffle partitions and "
        "adaptive query execution with skew join splitting at runtime"
    )
    batch = _pages(
        spark,
        [("http://b/exact", BASE),     # exact tier
         ("http://b/near", near),      # near tier
         ("http://b/fresh", fresh)],   # survivor
    )
    res = index.dedup_batch(batch)

    assert res.exact_hits.count() == 1
    near_id = batch.filter(F.col("url") == "http://b/near").select(
        F.xxhash64("url")
    ).first()[0]
    assert {r["src"] for r in res.near_pairs.collect()} == {near_id}
    surv = res.survivors.collect()
    assert len(surv) == 1
    assert res.demoted.count() == 0
    funnel = {r["metric"]: r["value"] for r in res.funnel().collect()}
    assert funnel == {
        "batch_uniq": 3, "exact_hits": 1, "near_dups": 1, "survivors": 1
    }

    index.append(res.survivors, "b")
    res.release()
    # the appended rows land in BOTH files, bands included — pins the
    # lazy self-reference trap (append() re-evaluating survivors after
    # the uniq write would anti-join them against themselves and append
    # zero band rows)
    n_uniq = index.uniq(spark).count()
    assert index.bands(spark).count() == n_uniq * DedupConfig().lsh_bands
    with pytest.raises(ValueError, match="already ingested"):
        index.append(res.survivors, "b")

    # the whole batch re-submitted: fresh is now an EXACT hit too
    res2 = index.dedup_batch(batch)
    assert res2.exact_hits.count() == 2
    assert res2.survivors.count() == 0
    res2.release()
    # manifest survives a reload
    assert DedupIndex.load(index.root, DedupConfig()).manifest[
        "batches"
    ] == ["initial", "b"]


def test_batch_plans_are_equi_join_shaped(index, spark):
    """The incremental tier must never degrade to a cross join: the exact
    tier is a hash anti-join, the near tier an equi-join on
    (band, bucket[, salt]) — same hygiene bar as the driver contract."""
    batch = _pages(spark, [("http://c/x", BASE + " tail"), ("http://c/y", OTHER)])
    res = index.dedup_batch(batch)
    for df in (res.survivors, res.near_pairs, res.exact_hits, res.demoted):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
    res.release()


def _plan_nodes(df):
    """(depth, text) per line of the executed plan — depth is the column
    where the node text starts, so an ancestor is the nearest line above
    with a smaller depth."""
    nodes = []
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        stripped = line.lstrip(" :+-")
        if stripped:
            nodes.append((len(line) - len(stripped), stripped))
    return nodes


def _assert_scan_joins_unexchanged(nodes, schema_pred, what):
    """Every parquet FileScan whose ReadSchema matches must reach its
    nearest Join ancestor with NO Exchange in between: the index side is
    probed map-side (broadcast batch keys), never shuffled — the
    operators/incremental.py plan contract.  Exchanges ABOVE the join are
    fine (they carry batch-bounded survivors of the probe)."""
    import re

    found = 0
    for i, (d, t) in enumerate(nodes):
        m = re.search(r"FileScan parquet .*?ReadSchema: struct<([^\n]*)", t)
        if not m or not schema_pred(m.group(1)):
            continue
        found += 1
        depth = d
        for j in range(i - 1, -1, -1):
            dj, tj = nodes[j]
            if dj < depth:
                depth = dj
                assert "Exchange" not in tj, (
                    f"{what}: index scan shuffled before its join: {tj}"
                )
                if "Join" in tj:
                    break
    assert found, f"no {what} scan found in the plan"


def test_index_side_never_shuffles(index, spark):
    """The 100-TB contract: dedup_batch's exact tier, band tier AND the
    signature verify SCAN the corpus-sized index but never exchange it —
    batch-derived keys/candidates are broadcast into the joins at the
    scans."""
    batch = _pages(
        spark, [("http://e/x", BASE + " tail"), ("http://e/y", OTHER)]
    )
    res = index.dedup_batch(batch)
    nodes = _plan_nodes(res.survivors)
    _assert_scan_joins_unexchanged(
        nodes,
        lambda s: s.startswith("text_hash:bigint") and "minhash" not in s,
        "exact-tier text_hash",
    )
    _assert_scan_joins_unexchanged(
        nodes, lambda s: "band:int" in s, "band-table"
    )
    _assert_scan_joins_unexchanged(
        nodes, lambda s: "minhash" in s, "verify signature"
    )
    # the demotion lineage is batch-restricted too: scan, not shuffle
    _assert_scan_joins_unexchanged(
        _plan_nodes(res.demoted), lambda s: "band:int" in s,
        "demoted band-table",
    )
    res.release()


def test_index_scans_are_column_pruned(index, spark):
    """The index is never scanned whole: the exact tier reads text_hash
    alone, the near tier reads the materialized band table, and the
    signature arrays (the bytes that dominate the index) are read by
    exactly ONE scan — the verify join."""
    import re

    batch = _pages(spark, [("http://d/x", BASE + " v2"), ("http://d/y", OTHER)])
    res = index.dedup_batch(batch)
    plan = res.survivors._jdf.queryExecution().executedPlan().toString()
    # location strings are truncated in plan dumps, so classify parquet
    # scans by their read schema (uniq: text_hash/minhash; bands: band)
    scans = [
        m.group(1)
        for m in re.finditer(
            r"FileScan parquet [^\n]*?ReadSchema: struct<([^\n]*)", plan)
    ]
    assert scans, "no parquet scans found in the survivors plan"
    sig_scans = [s for s in scans if "minhash" in s]
    assert len(sig_scans) == 1
    assert sig_scans[0].startswith("doc_id:bigint,minhash:array<int")
    assert any(s.startswith("text_hash:bigint") for s in scans)  # exact tier
    assert any("band:int" in s for s in scans)         # secondary index
    # nothing ever reads the full uniq row (text_hash AND minhash together)
    assert not [s for s in scans if "text_hash" in s and "minhash" in s]
    res.release()


def test_compact_folds_batches_and_keeps_ledger(index, spark, tmp_path):
    """compact() rewrites N live subdirectories into one; counts, batch
    classification and replay idempotence are unchanged; vacuum reclaims
    the orphaned pre-compaction dirs."""
    import os

    batch = _pages(
        spark,
        [("http://g/1", BASE + " brand new trailing content here"),
         ("http://g/2", OTHER + " more fresh words to survive the tiers")],
    )
    res = index.dedup_batch(batch)
    index.append(res.survivors, "g")
    res.release()
    n_uniq = index.uniq(spark).count()
    n_bands = index.bands(spark).count()
    assert len(index.manifest["batches"]) == 2

    assert index.compact(spark) is True
    assert index.manifest["batches"] == ["compact-1"]
    assert index.manifest["ingested"] == ["initial", "g"]
    assert index.uniq(spark).count() == n_uniq
    assert index.bands(spark).count() == n_bands
    # replay idempotence survives compaction: the folded snapshot still
    # raises on re-append and still answers has_batch
    assert index.has_batch("g")
    with pytest.raises(ValueError, match="already ingested"):
        index.append(res.survivors, "g")
    # the whole original batch is now exact hits against the compacted index
    res2 = index.dedup_batch(batch)
    assert res2.survivors.count() == 0
    res2.release()

    removed = index.vacuum()
    assert len(removed) == 4  # 2 uniq + 2 bands pre-compaction dirs
    live = sorted(os.listdir(os.path.join(index.root, "uniq")))
    assert live == ["batch-compact-1"]
    assert index.uniq(spark).count() == n_uniq

    # already single-snapshot: no-op; a reload sees the same state
    assert index.compact(spark) is False
    again = DedupIndex.load(index.root, DedupConfig())
    assert again.manifest["batches"] == ["compact-1"]
    assert again.has_batch("initial")


def test_crashed_compaction_is_invisible(index, spark):
    """A compaction that dies before the manifest swap leaves orphan
    subdirectories no reader lists; vacuum removes them; a retried
    compaction reuses the same snapshot name."""
    import os

    batch = _pages(spark, [("http://h/1", OTHER + " extra tail words here")])
    res = index.dedup_batch(batch)
    index.append(res.survivors, "h")
    res.release()
    n_uniq = index.uniq(spark).count()
    # simulate the crash: write the data dirs exactly as compact() would,
    # then "die" before _write_manifest
    index.uniq(spark).write.mode("overwrite").parquet(
        os.path.join(index.root, "uniq", "batch-compact-1")
    )
    assert index.uniq(spark).count() == n_uniq  # orphan invisible
    assert DedupIndex.load(index.root, DedupConfig()).manifest[
        "batches"
    ] == ["initial", "h"]
    # retry commits over the orphan
    assert index.compact(spark) is True
    assert index.manifest["batches"] == ["compact-1"]
    assert index.uniq(spark).count() == n_uniq


def test_legacy_manifest_without_ledger(index, spark):
    """Pre-compaction manifests (no 'ingested' key) load with the live
    list as the ledger."""
    import json
    import os

    path = os.path.join(index.root, "_index.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest.pop("ingested")
    with open(path, "w") as f:
        json.dump(manifest, f)
    legacy = DedupIndex.load(index.root, DedupConfig())
    assert legacy.manifest["ingested"] == legacy.manifest["batches"]
    assert legacy.has_batch("initial")


def test_empty_batch_flows(index, spark):
    res = index.dedup_batch(_pages(spark, []))
    assert res.survivors.count() == 0
    assert res.near_pairs.count() == 0
    assert res.exact_hits.count() == 0
    res.release()
