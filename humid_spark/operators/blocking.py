"""Hamming / edit-distance similarity self-join (J1/J2).

Reference: trie.asymmetricHamming / asymmetricLevenshtein — a pruned DFS over
a prefix trie enumerating all keys within distance m of each walked key
(src/humid.cc:113-158).  A trie walk does not distribute; we substitute the
classic *pigeonhole chunk blocking* (PassJoin family, public literature):

  split each fixed-length key into m+1 chunks -> two keys within (Hamming or
  edit) distance m must agree EXACTLY on at least one chunk (for edit
  distance, on one chunk at a start position shifted by at most m).

Candidate generation is then an equi-join on (chunk_idx, chunk_value[,shift])
— a plain shuffle hash join Catalyst handles (AQE splits skewed chunks) —
followed by an exact verify with JVM-side expressions (zip_with char compare
for Hamming, the built-in `levenshtein` for edit distance).  Scaling: the
explode factor is m+1 (Hamming) or (m+1)(2m+1) (edit); chunk values of
near-uniform keys distribute well, and a `chunk_cap` demotes degenerate
chunks (e.g. all-padding) the same way the LSH path caps hot buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chunk_bounds(n: int, parts: int) -> list[tuple[int, int]]:
    """(start_1based, length) per chunk; remainder spread to the last chunk,
    mirroring the reference's budget-split convention (src/fastq.cc:220-230:
    equal shares, remainder to the last)."""
    base = n // parts
    bounds = []
    pos = 1
    for i in range(parts):
        ln = base + (n - base * parts if i == parts - 1 else 0)
        bounds.append((pos, ln))
        pos += ln
    return bounds


def hamming_distance(a: Column, b: Column) -> Column:
    """Character Hamming distance of equal-length strings, JVM-side
    (whole-stage-codegen; no UDF)."""
    return F.aggregate(
        F.zip_with(
            F.split(a, ""),
            F.split(b, ""),
            lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _explode_chunks(uniq: DataFrame, n: int, parts: int) -> DataFrame:
    bounds = chunk_bounds(n, parts)
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.substring(F.col("key"), pos, ln).alias("chunk_val"),
            )
            for i, (pos, ln) in enumerate(bounds)
        ]
    )
    return uniq.select("key", F.explode(chunks).alias("c")).select(
        "key", "c.chunk_idx", "c.chunk_val"
    )


def hamming_pairs(
    uniq: DataFrame, n: int, m: int, chunk_cap: int | None = 100_000
) -> DataFrame:
    """All unordered pairs of distinct keys with Hamming distance <= m.

    uniq must have a distinct `key` column of fixed length n.
    Returns (src, dst) with src < dst, exactly once per pair.
    """
    parts = m + 1
    chunks = _explode_chunks(uniq, n, parts)
    if chunk_cap is not None:
        # Degenerate chunk values (identical padding / boilerplate) would
        # create O(cap^2) candidate pairs; such keys still pair via their
        # other, more selective chunks in almost all cases. Count-filter is
        # a cheap extra aggregation on the already-shuffled data.
        hot = (
            chunks.groupBy("chunk_idx", "chunk_val")
            .count()
            .filter(F.col("count") > chunk_cap)
            .select("chunk_idx", "chunk_val")
        )
        chunks = chunks.join(
            F.broadcast(hot), ["chunk_idx", "chunk_val"], "left_anti"
        )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("src"), F.col("b.key").alias("dst"))
        .distinct()
    )
    return cand.filter(
        hamming_distance(F.col("src"), F.col("dst")) <= F.lit(m)
    )


def edit_pairs(uniq: DataFrame, n: int, m: int) -> DataFrame:
    """All unordered pairs of distinct keys with Levenshtein distance <= m.

    Keys are fixed length n here (the reference compares equal-length words
    too — its words are always wordLength long, src/fastq.cc:116-144).
    Blocking: chunk i of key A (start p, len L) must appear in key B at some
    start in [p-m, p+m] — the PassJoin shift rule.
    """
    parts = m + 1
    bounds = chunk_bounds(n, parts)
    a_chunks = _explode_chunks(uniq, n, parts)

    # B side: all substrings at shifted positions for each chunk index.
    b_subs = []
    for i, (pos, ln) in enumerate(bounds):
        for delta in range(-m, m + 1):
            p = pos + delta
            if p < 1 or p + ln - 1 > n:
                continue
            b_subs.append(
                F.struct(
                    F.lit(i).alias("chunk_idx"),
                    F.substring(F.col("key"), p, ln).alias("chunk_val"),
                )
            )
    b = (
        uniq.select("key", F.explode(F.array(*b_subs)).alias("c"))
        .select("key", "c.chunk_idx", "c.chunk_val")
        .distinct()
    )
    cand = (
        a_chunks.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("src"), F.col("b.key").alias("dst"))
        .distinct()
    )
    return cand.filter(F.levenshtein(F.col("src"), F.col("dst")) <= F.lit(m))
