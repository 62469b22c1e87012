"""Exact-substring / containment duplicate detection via winnowing.

The reference catches only whole-key duplicates; SURVEY.md §7.2 M4 adds a
containment pass for docs embedded verbatim inside larger docs (quote
farms, scraped mirrors) — pairs whose full-text Jaccard is LOW, so MinHash
LSH structurally misses them.

Algorithm (Schleimer-Wilkerson-Aiken winnowing, public literature):
char-k-gram rolling hashes -> sliding window of w -> keep each window's
minimum -> a document's fingerprint set.  If A is contained in B, almost
every fingerprint of A is also selected in B (winnowing is position-
independent).  Candidates come from an inverted fingerprint index
(explode -> groupBy fp), hot fingerprints capped exactly like LSH buckets;
the containment score = |fp(A) ∩ fp(B)| / min(|fp(A)|, |fp(B)|).

All set math happens as aggregations over the exploded index — the
fingerprint sets themselves are never pairwise-joined as arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from humid_spark.functions.signatures import P31, concat_poly_hashes, shingle_hashes


def winnow(text: str | None, k: int = 8, w: int = 16) -> np.ndarray:
    """Distinct winnowed fingerprints of `text` (k-gram hashes, window w)."""
    if not text:
        return np.empty(0, dtype=np.int64)
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(data) < k:
        return np.empty(0, dtype=np.int64)
    powers = np.empty(k, dtype=np.int64)
    p = 1
    for i in range(k - 1, -1, -1):
        powers[i] = p
        p = (p * 131) % P31
    grams = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.int64)
    hashes = (grams @ powers) % P31
    if len(hashes) <= w:
        return np.unique(hashes.min(keepdims=True))
    wins = np.lib.stride_tricks.sliding_window_view(hashes, w)
    return np.unique(wins.min(axis=1))


def winnow_batch(
    texts: list[str | None], k: int = 8, w: int = 16
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized winnowing over a whole batch — bit-identical per doc to
    ``winnow``.  One concatenated k-gram hash pass, ONE global sliding-min
    (windows crossing a doc boundary are masked out afterwards, since each
    doc's hashes occupy a contiguous slice), short docs take their segment
    min via np.minimum.reduceat, then one sort dedups fingerprints per doc.

    Returns (doc_of, fingerprint) rows sorted by (doc, fp) — callers slice
    per doc via the grouped doc_of."""
    hashes, doc_of, _n = concat_poly_hashes(texts, k)
    if not hashes.size:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    m = len(hashes)
    seg_starts = np.flatnonzero(np.diff(doc_of, prepend=-1))
    seg_ends = np.append(seg_starts[1:], m)          # exclusive
    seg_len = seg_ends - seg_starts
    sel_doc: list[np.ndarray] = []
    sel_fp: list[np.ndarray] = []
    # long docs: every in-doc window of w hashes keeps its min
    if m >= w:
        wmins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
        pos = np.arange(m - w + 1, dtype=np.int64)
        doc_end = np.repeat(seg_ends, seg_len)[: m - w + 1]
        in_doc = pos + w <= doc_end
        # docs with exactly len == w hashes are handled identically by
        # either branch (one window == segment min); winnow() routes
        # len <= w to the segment-min branch, so mask them out here
        long_doc = np.repeat(seg_len > w, seg_len)[: m - w + 1]
        keep = in_doc & long_doc
        sel_doc.append(doc_of[: m - w + 1][keep])
        sel_fp.append(wmins[keep])
    # short docs (1 <= len <= w): a single fingerprint, the segment min
    short = seg_len <= w
    if short.any():
        mins = np.minimum.reduceat(hashes, seg_starts)[short]
        sel_doc.append(doc_of[seg_starts][short])
        sel_fp.append(mins)
    docs = np.concatenate(sel_doc)
    fps = np.concatenate(sel_fp)
    # per-doc distinct via one sort: fp < 2^31, so (doc << 31) | fp is
    # collision-free and unique() keeps doc grouping (doc in the high bits)
    combined = np.unique(docs * np.int64(1 << 31) + fps)
    return combined >> np.int64(31), combined & np.int64((1 << 31) - 1)


def make_winnow_udf(k: int = 8, w: int = 16):
    @pandas_udf(T.ArrayType(T.LongType()))
    def winnow_udf(texts: pd.Series) -> pd.Series:
        doc_of, fps = winnow_batch(texts.tolist(), k, w)
        n = len(texts)
        out: list[list[int]] = [[] for _ in range(n)]
        if len(doc_of):
            seg_starts = np.flatnonzero(np.diff(doc_of, prepend=-1))
            for d, chunk in zip(
                doc_of[seg_starts],
                np.split(fps, seg_starts[1:]),
            ):
                out[d] = chunk.tolist()
        return pd.Series(out)

    return winnow_udf


def substring_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    fp_cap: int = 500,
) -> DataFrame:
    """EXACT substring duplicates — the north-star's suffix-array pass,
    re-expressed Spark-first: winnowing candidates + a JVM contains()
    verify instead of a distributed suffix array.

    Guarantee: if doc A's text appears verbatim inside doc B and
    len(A) >= k + w - 1, then every w-window of A's k-gram hash sequence
    is also a w-window of B's, so fp(A) ⊆ fp(B) and the containment share
    is exactly 1000 — candidate recall is 1 (Schleimer-Wilkerson-Aiken
    winnowing property).  The exact verify then removes winnowing false
    positives, so the result equals the all-pairs contains() semantics
    while only ever joining within shared-fingerprint buckets.

    Cap caveat: fingerprints hotter than fp_cap are demoted from the
    inverted index.  Sizes are computed over the POST-cap index, so the
    share of a surviving pair is unaffected (numerator and denominator
    lose the same fingerprints and fp(A)∖hot ⊆ fp(B)∖hot still scores
    1000); the residual hole is a doc whose EVERY fingerprint is hot
    (boilerplate-only page), which drops out of the index entirely.  Audit
    with ``demoted_fingerprints(docs, ...)`` — same lineage contract as
    lsh.demoted_buckets, never silent.

    Returns (inner_doc, outer_doc): inner's text occurs inside outer's.
    Equal texts emit both orientations.
    """
    cands = containment_pairs(
        docs, id_col, text_col, k, w, min_share=1.0, fp_cap=fp_cap
    )
    min_len = k + w - 1
    ta = docs.select(
        F.col(id_col).alias("src"), F.col(text_col).alias("t_src")
    )
    tb = docs.select(
        F.col(id_col).alias("dst"), F.col(text_col).alias("t_dst")
    )
    joined = cands.join(ta, "src").join(tb, "dst")
    # BOTH orientations in one pass over `joined`: a fwd/rev filter pair
    # unioned afterwards references the joined subtree twice, and Spark
    # re-executes the whole candidate chain (winnow index, self-join,
    # share filter, two text joins) once per branch.  The explode emits
    # the same multiset — a pair of equal texts still yields both rows.
    fwd_ok = (
        (F.length("t_src") >= min_len)
        & F.contains(F.col("t_dst"), F.col("t_src"))
    )
    rev_ok = (
        (F.length("t_dst") >= min_len)
        & F.contains(F.col("t_src"), F.col("t_dst"))
    )
    pair = F.explode(
        F.array(
            F.when(
                fwd_ok,
                F.struct(
                    F.col("src").alias("inner_doc"),
                    F.col("dst").alias("outer_doc"),
                ),
            ),
            F.when(
                rev_ok,
                F.struct(
                    F.col("dst").alias("inner_doc"),
                    F.col("src").alias("outer_doc"),
                ),
            ),
        )
    )
    return (
        joined.select(pair.alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.inner_doc", "p.outer_doc")
    )


def demoted_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    fp_cap: int = 500,
) -> DataFrame:
    """Lineage: the (fp, doc_count) fingerprints the cap demoted from the
    containment/substring inverted index (cf. lsh.demoted_buckets)."""
    udf = make_winnow_udf(k, w)
    inv = docs.select(
        F.col(id_col).alias("doc"), F.explode(udf(F.col(text_col))).alias("fp")
    )
    return (
        inv.groupBy("fp").agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") > fp_cap)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    min_share: float = 0.7,
    fp_cap: int = 500,
) -> DataFrame:
    """(doc_id, text) -> (src, dst, share_permille) pairs where the smaller
    POST-cap fingerprint set is >= min_share contained in the intersection
    (see substring_dups for the cap-consistency argument)."""
    udf = make_winnow_udf(k, w)
    spark = docs.sparkSession
    # materialize the fingerprint table ONCE, at full parallelism: it is
    # consumed four times (sizes, inverted index, both self-join sides) and
    # the input is often a single parquet row-group — without this the
    # winnow UDF recomputes 4x on ~2 cores (measured 23s -> 4s at sf0.1)
    fps = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("doc"), udf(F.col(text_col)).alias("fps"))
        .localCheckpoint(eager=True)
    )
    inv = fps.select("doc", F.explode("fps").alias("fp"))
    hot = (
        inv.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > fp_cap)
        .select("fp")
    )
    inv = inv.join(F.broadcast(hot), "fp", "left_anti")
    # sizes over the POST-cap index: a demoted fingerprint leaves both the
    # numerator (shared) and the denominator (n_fp) consistently, so
    # containment of the surviving fingerprint set is still measured
    # exactly — if fp(A) ⊆ fp(B) then fp(A)∖hot ⊆ fp(B)∖hot and A∖hot's
    # share stays 1000.  (Pre-cap sizes silently deflated the share of any
    # pair touching a hot fingerprint — the round-2 ADVICE finding.)
    sizes = inv.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))

    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("src"), F.col("b.doc").alias("dst"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col("doc").alias("src"), F.col("n_fp").alias("n_src"))
    nb = sizes.select(F.col("doc").alias("dst"), F.col("n_fp").alias("n_dst"))
    return (
        shared.join(na, "src")
        .join(nb, "dst")
        .withColumn(
            "share_permille",
            F.floor(
                F.col("shared") * 1000 / F.least(F.col("n_src"), F.col("n_dst"))
            ).cast("long"),
        )
        .filter(F.col("share_permille") >= int(min_share * 1000))
        .select("src", "dst", "share_permille")
    )
