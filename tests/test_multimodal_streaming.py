"""Multimodal binary-column plumbing (stubbed decode) and binary exact
dedup."""

from __future__ import annotations

from humid_spark.functions.multimodal import binary_exact_dups, image_metadata
from humid_spark.sources.pages import fx_cluster_chain_gap, to_spark


def test_image_metadata_stub(spark):
    pages = to_spark(spark, fx_cluster_chain_gap())
    meta = image_metadata(pages).collect()
    assert len(meta) == 27
    by_url = {r["url"]: r for r in meta}
    any_row = next(iter(by_url.values()))
    # stub decode: deterministic fake dims, decoded=False, real sha/byte count
    assert any_row["decoded"] is False
    assert any_row["format"] == "stub"
    assert any_row["n_bytes"] == 24  # fixture html == 24-char ACGT text
    assert 16 <= any_row["width"] < 80
    # identical blobs -> identical sha/dims
    shas = {}
    for r in meta:
        shas.setdefault(r["sha256"], set()).add((r["width"], r["height"]))
    assert all(len(v) == 1 for v in shas.values())


def test_binary_exact_dups(spark):
    pages = to_spark(spark, fx_cluster_chain_gap())
    dups = binary_exact_dups(pages).collect()
    # 5 distinct texts -> 5 distinct blobs with counts 2,4,8,10,3
    assert sorted(r["n"] for r in dups) == [2, 3, 4, 8, 10]

