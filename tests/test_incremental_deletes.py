"""Row-level deletes (merge-on-read tombstones): takedown semantics over
the persistent DedupIndex — read-time suppression, verify-gate kill of
band candidates, cluster-map removal, physical folding at compact."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from humid_spark.config import DedupConfig
from humid_spark.plans.incremental import DedupIndex
from tests.test_incremental_index import BASE, OTHER, _pages


@pytest.fixture()
def didx(spark, tmp_path):
    cfg = DedupConfig()
    corpus = _pages(
        spark,
        [("http://d/base", BASE), ("http://d/other", OTHER)],
    )
    return DedupIndex.build(
        corpus, cfg, str(tmp_path / "didx"), with_clusters=True
    )


def test_delete_suppresses_all_tiers(didx, spark):
    n0 = didx.uniq(spark).count()
    assert n0 == 2
    removed = didx.delete(
        spark.createDataFrame([("http://d/base",)], "url string")
    )
    # the resolved uniq row + the bare identity row that scrubs the
    # cluster map (this index maintains one)
    assert removed == 2
    assert didx.uniq(spark).count() == 1
    # idempotent: deleting again records nothing new
    assert didx.delete(
        spark.createDataFrame([("http://d/base",)], "url string")
    ) == 0

    # exact tier: the deleted content re-enters as FRESH
    batch = _pages(spark, [("http://e/recrawl", BASE)])
    res = didx.dedup_batch(batch)
    assert res.exact_hits.count() == 0
    assert res.survivors.count() == 1
    # near tier: a near-dup of the deleted doc finds NOTHING — the band
    # candidate dies at the verify join (bands stay permissive)
    res.release()
    res2 = didx.dedup_batch(
        _pages(spark, [("http://e/near", BASE + " tail words")])
    )
    assert res2.near_pairs.count() == 0
    assert res2.survivors.count() == 1
    res2.release()
    # cluster map: the doc's row is gone
    from pyspark.sql import functions as F  # noqa: F811

    ids = {r["doc_id"] for r in didx.clusters(spark).collect()}
    base_id = spark.createDataFrame(
        [("http://d/base",)], "url string"
    ).select(F.xxhash64("url")).first()[0]
    assert base_id not in ids and len(ids) == 1

    # reload sees the tombstones (manifest round-trip)
    again = DedupIndex.load(didx.root, DedupConfig())
    assert again.manifest["delete_rows"] == 2
    assert again.uniq(spark).count() == 1


def test_delete_durable_until_compact_then_physical(didx, spark):
    didx.delete(spark.createDataFrame([("http://d/base",)], "url string"))

    # a byte-identical re-ingest is suppressed by the live tombstone:
    # the row lands in storage but every reader filters it
    res = didx.dedup_batch(_pages(spark, [("http://d/base", BASE)]))
    delta = didx.cluster_batch(res)
    didx.append(res.survivors, "reingest", clusters=delta)
    res.release()
    delta.release()
    assert didx.uniq(spark).count() == 1  # still suppressed

    # compact folds the tombstones physically and resets the table
    assert didx.compact(spark) is True
    assert didx.manifest["delete_rows"] == 0
    assert didx.uniq(spark).count() == 1
    raw = spark.read.schema(DedupIndex._UNIQ_SCHEMA).parquet(
        *[os.path.join(didx.root, "uniq", f"batch-{b}")
          for b in didx.manifest["batches"]]
    )
    assert raw.count() == 1  # physically gone, not just filtered
    removed = didx.vacuum()
    assert any("deletes" in p for p in removed)

    # after the fold, re-ingested content is new content again
    res2 = didx.dedup_batch(_pages(spark, [("http://d/base2", BASE)]))
    delta2 = didx.cluster_batch(res2)
    didx.append(res2.survivors, "fresh-again", clusters=delta2)
    res2.release()
    delta2.release()
    assert didx.uniq(spark).count() == 2


def test_tombstoned_index_still_never_shuffles(didx, spark):
    """The no-index-SHUFFLE contract survives live tombstones.  The
    tombstone table's own scan shares the (text_hash, doc_id) ReadSchema
    with the pruned exact-tier index scan and legitimately sits under a
    BroadcastExchange (it is batch-bounded by design), so this pin allows
    broadcasts and forbids exactly the scale-killer: a shuffle between
    any such scan and its join."""
    from tests.test_incremental_index import (
        _executed_plans,
        _no_auto_broadcast,
        _tree_nodes,
    )

    didx.delete(spark.createDataFrame([("http://d/base",)], "url string"))
    batch = _pages(
        spark, [("http://f/x", OTHER + " tail"), ("http://f/y", BASE)]
    )
    with _no_auto_broadcast(spark):
        res, plans = _executed_plans(spark, lambda: didx.dedup_batch(batch))
    import re

    nodes = _tree_nodes(*plans)
    found = 0
    for i, (d, t) in enumerate(nodes):
        m = re.search(r"FileScan parquet .*?ReadSchema: struct<([^\n]*)", t)
        if not m or not (
            m.group(1).startswith("text_hash:bigint")
            and "minhash" not in m.group(1)
        ):
            continue
        found += 1
        depth = d
        for j in range(i - 1, -1, -1):
            dj, tj = nodes[j]
            if dj < depth:
                depth = dj
                assert "Exchange hashpartitioning" not in tj, (
                    f"tombstoned index scan shuffled before its join: {tj}"
                )
                if "Join" in tj:
                    break
    assert found >= 2  # the index exact-tier scan AND the tombstone scan
    res.release()


def test_delete_by_content_reaches_the_representative(spark, tmp_path):
    """Exact-collapse keeps ONE doc per text: an identity-only takedown
    of the non-representative url misses the served copy, a content
    takedown (text column) reaches it regardless of which url won."""
    cfg = DedupConfig()
    idx = DedupIndex.build(
        _pages(
            spark,
            [("http://c/a", BASE), ("http://c/b", BASE),  # exact twins
             ("http://c/other", OTHER)],
        ),
        cfg,
        str(tmp_path / "cidx"),
    )
    assert idx.uniq(spark).count() == 2
    rep_id = idx.uniq(spark).filter(
        F.col("text_hash") == F.xxhash64(F.lit(BASE))
    ).first()["doc_id"]
    ids = {
        u: spark.createDataFrame([(u,)], "url string")
        .select(F.xxhash64("url")).first()[0]
        for u in ("http://c/a", "http://c/b")
    }
    loser_url = next(u for u, i in ids.items() if i != rep_id)
    # identity-only: the loser url resolves to no uniq row -> no-op
    assert idx.delete(
        spark.createDataFrame([(loser_url,)], "url string")
    ) == 0
    assert idx.uniq(spark).count() == 2
    # content takedown: url AND text -> the representative row dies
    assert idx.delete(
        spark.createDataFrame([(loser_url, BASE)], "url string, text string")
    ) == 1
    assert idx.uniq(spark).count() == 1


def test_delete_scrubs_dropped_near_dup_map_rows(didx, spark):
    """A doc dropped as a near-dup has a cluster-map row but no uniq row;
    deleting its identity scrubs the map row via the bare-identity
    tombstone."""
    res = didx.dedup_batch(
        _pages(spark, [("http://nd/x", BASE + " tail words")])
    )
    delta = didx.cluster_batch(res)
    didx.append(res.survivors, "nd", clusters=delta)
    res.release()
    delta.release()
    nd_id = spark.createDataFrame(
        [("http://nd/x",)], "url string"
    ).select(F.xxhash64("url")).first()[0]
    assert nd_id in {r["doc_id"] for r in didx.clusters(spark).collect()}
    assert didx.delete(
        spark.createDataFrame([("http://nd/x",)], "url string")
    ) == 1  # no uniq row — exactly the bare identity tombstone
    assert nd_id not in {
        r["doc_id"] for r in didx.clusters(spark).collect()
    }


def test_delete_by_doc_id_and_plan_shape(didx, spark):
    base_id = spark.createDataFrame(
        [("http://d/other",)], "url string"
    ).select(F.xxhash64("url").alias("doc_id"))
    assert didx.delete(base_id) == 2  # uniq row + map-scrub identity row
    # the tombstone read path is one broadcast anti-join over the scan —
    # no exchange of the index, no cartesian
    plan = didx.uniq(spark)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
