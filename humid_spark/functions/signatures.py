"""MinHash / SimHash signatures — the web-scale generalization of the
reference's fixed-length word key (SURVEY.md §2.13).

Two implementations, both from scratch (no pyspark.ml.feature.MinHashLSH):

1. Fast engine path (`minhash_map_in_arrow` / `make_simhash_udf`):
   vectorized Arrow UDFs — Arrow batches in, numpy per batch, zero per-row
   Python objects in the steady state.  Char shingles are hashed with a
   polynomial rolling hash mod the Mersenne prime 2^31-1, then k
   universal-hash permutations (a_j*h+b_j mod p) are minimized per doc.

2. SQL parity path (`minhash_sql_*`, `simhash_sql_*`): the same math as
   built-in Catalyst expressions (md5-derived shingle hashes), with a
   character-identical DuckDB formulation — used by __spark_entry__
   queries()/oracle_sql() so the driver can verify signature values
   engine-vs-oracle exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

P31 = (1 << 31) - 1  # Mersenne prime 2^31-1
_BASE = 131


def _coeffs(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, size=num_perm, dtype=np.int64)
    b = rng.integers(0, P31, size=num_perm, dtype=np.int64)
    return a, b


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Unique 31-bit polynomial hashes of all byte k-shingles of `text`."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(data) < k:
        return np.empty(0, dtype=np.int64)
    powers = np.empty(k, dtype=np.int64)
    p = 1
    for i in range(k - 1, -1, -1):
        powers[i] = p
        p = (p * _BASE) % P31
    windows = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.int64)
    return np.unique((windows @ powers) % P31)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche: 31-bit shingle hashes -> uint64."""
    z = h.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def minhash_signature(text: str | None, k: int, a: np.ndarray, b: np.ndarray) -> list[int]:
    if not text:
        return [P31] * len(a)
    sh = shingle_hashes(text, k)
    if sh.size == 0:
        return [P31] * len(a)
    # (num_perm, n_shingles) universal hashes, min per row
    sig = ((a[:, None] * sh[None, :]) % P31 + b[:, None]) % P31
    return sig.min(axis=1).tolist()


def oph_signature(text: str | None, k: int, num_perm: int) -> np.ndarray:
    """One-permutation MinHash with rotation densification (Li/Owen/Zhang,
    Shrivastava — public literature): O(S) per doc instead of O(num_perm*S).

    Each shingle hash is mixed to 64 bits, assigned to bucket h % num_perm,
    and the bucket keeps the minimum; empty buckets borrow the next
    non-empty bucket's value (circularly) plus an offset so that
    P(sig_a[j] == sig_b[j]) ~= Jaccard(a, b) still holds — the same banding
    and estimation machinery applies unchanged."""
    sig = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)
    if text:
        sh = shingle_hashes(text, k)
        if sh.size:
            mixed = _mix64(sh)
            buckets = (mixed % np.uint64(num_perm)).astype(np.int64)
            # 31-bit slot values: signatures ship as array<int> (half the
            # shuffle bytes of array<long>); slot-collision bias ~2^-31
            vals = (mixed >> np.uint64(33)).astype(np.int64)
            np.minimum.at(sig, buckets, vals)
    empty = sig == np.iinfo(np.int64).max
    if empty.all():
        return np.full(num_perm, P31, dtype=np.int64)
    if empty.any():
        # rotation densification: walk once, carrying the last filled value
        idx = np.arange(num_perm)
        filled = np.where(~empty, idx, -1)
        # nearest filled bucket to the left (circular): two-pass fill
        last = -1
        left = np.empty(num_perm, dtype=np.int64)
        for i in range(num_perm):
            if filled[i] >= 0:
                last = i
            left[i] = last
        if left[0] == -1:
            # circular wrap: nearest filled to the LEFT of slot 0 is the
            # last filled slot (keep identical to oph_signatures_batch)
            last = num_perm - 1 - int(np.argmax(~empty[::-1]))
            left[left == -1] = last
        borrow = sig[left]
        dist = (idx - left) % num_perm
        sig = np.where(empty, (borrow + dist) % P31, sig)
    return sig


def simhash64(text: str | None, k: int) -> int:
    if not text:
        return 0
    sh = shingle_hashes(text, k)
    if sh.size == 0:
        return 0
    mixed = _mix64(sh)
    bits = np.unpackbits(mixed.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    # signed votes: bits.sum() yields uint64, where a negative majority
    # would wrap positive and flip the bit (round-1 bug)
    votes = bits.sum(axis=0).astype(np.int64) * 2 - len(mixed)
    word = np.packbits(votes > 0, bitorder="little").view(np.uint64)[0]
    return int(word.astype(np.int64))  # wrap to signed for LongType


def _default_scheme() -> str:
    """Resolve the scheme from DedupConfig so `minhash_map_in_arrow` can
    never silently disagree with the shipped default (round-2 ADVICE)."""
    from humid_spark.config import DedupConfig

    return DedupConfig.minhash_scheme


def concat_poly_hashes(
    texts: list[str | None], k: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """All k-shingle polynomial hashes of a whole batch in ONE pass.

    Concatenates the batch into a single byte buffer, computes every
    k-window's polynomial hash mod P31 with k shifted multiply-adds (numpy
    has no BLAS path for ints — a matmul is ~60x slower), and drops windows
    that cross a document boundary.  Returns (hashes, doc_of, n_docs) with
    hashes grouped by document in position order — the shared front end of
    every batched signature (OPH MinHash, SimHash, winnowing).  Per-doc
    values are bit-identical to ``shingle_hashes`` (before its unique)."""
    bufs = [t.encode("utf-8") if t else b"" for t in texts]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    n = len(bufs)
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    if len(data) < k:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), n)
    starts = np.concatenate(([0], np.cumsum(lens)))
    powers = np.empty(k, dtype=np.int64)
    p = 1
    for i in range(k - 1, -1, -1):
        powers[i] = p
        p = (p * _BASE) % P31
    # values stay < 2^42 before the final mod so no overflow.  One widening
    # pass, then in-place ops: this stage is memory-bandwidth-bound, so
    # every avoided temporary matters.
    m = len(data) - k + 1
    d64 = data.astype(np.int64)
    acc = d64[0:m] * powers[0]
    tmp = np.empty(m, dtype=np.int64)
    for i in range(1, k):
        np.multiply(d64[i:i + m], powers[i], out=tmp)
        np.add(acc, tmp, out=acc)
    np.mod(acc, P31, out=acc)
    # doc of window w = doc of byte w; windows crossing a doc boundary are
    # invalid — exactly the last k-1 window slots of every doc, so scatter
    # those few positions into a mask instead of materializing per-window
    # doc-end arrays (2x less traffic on this bandwidth-bound stage)
    doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)[:m]
    valid = np.ones(m, dtype=bool)
    tail = starts[1:, None] - np.arange(k - 1, 0, -1)[None, :]  # (n, k-1)
    tail = tail.reshape(-1)
    tail = tail[(tail >= 0) & (tail < m)]
    valid[tail] = False
    return acc[valid], doc_of[valid], n


def _powers(k: int) -> np.ndarray:
    powers = np.empty(k, dtype=np.int64)
    p = 1
    for i in range(k - 1, -1, -1):
        powers[i] = p
        p = (p * _BASE) % P31
    return powers


def _oph_scatter_chunk(
    bufs: list[bytes], doc0: int, k: int, num_perm: int,
    powers: np.ndarray, sig_flat: np.ndarray,
) -> None:
    """Fused poly-hash -> mix64 -> bucket -> scatter-min over ONE small
    chunk of documents (all intermediates sized by the chunk, so the whole
    working set stays cache-resident — see oph_signatures_batch)."""
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    m = len(data) - k + 1
    if m <= 0:
        return
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    d64 = data.astype(np.int64)
    acc = d64[0:m] * powers[0]
    tmp = np.empty(m, dtype=np.int64)
    for i in range(1, k):
        np.multiply(d64[i:i + m], powers[i], out=tmp)
        np.add(acc, tmp, out=acc)
    np.mod(acc, P31, out=acc)
    # windows crossing a doc boundary are invalid — the last k-1 slots of
    # every doc (same masking as concat_poly_hashes)
    doc_of = np.repeat(np.arange(doc0, doc0 + len(bufs), dtype=np.int64),
                       lens)[:m]
    starts = np.concatenate(([0], np.cumsum(lens)))
    valid = np.ones(m, dtype=bool)
    tail = (starts[1:, None] - np.arange(k - 1, 0, -1)[None, :]).reshape(-1)
    tail = tail[(tail >= 0) & (tail < m)]
    valid[tail] = False
    mixed = _mix64(acc[valid])
    buckets = (mixed % np.uint64(num_perm)).astype(np.int64)
    vals = (mixed >> np.uint64(33)).astype(np.int64)
    np.minimum.at(sig_flat, doc_of[valid] * num_perm + buckets, vals)


def oph_signatures_batch(
    texts: list[str | None], k: int, num_perm: int,
    chunk_bytes: int = 96 * 1024,
) -> np.ndarray:
    """Vectorized OPH over a batch, processed in CACHE-RESIDENT chunks.

    Returns an (n_docs, num_perm) int32 matrix (empty/short docs get the
    P31 sentinel row), bit-identical to the per-doc ``oph_signature`` path
    (scatter-min is order-independent; densification is deterministic).

    Why chunked: the round-1/2 whole-batch formulation concatenated the
    entire Arrow batch (~10 MB text) and streamed ~8-byte-per-window
    intermediates (poly-hash acc, mix64 temporaries, bucket/val arrays)
    through DRAM — hundreds of MB of traffic per batch per worker.  One
    worker is fast that way, but 8+ workers share one memory bus and the
    stage's measured 2->8-core scaling efficiency collapsed to 0.54
    (BENCH/scaling.json, round 2).  The same lesson as kperm
    (kperm_signatures_batch docstring): cache residency, not single-thread
    speed, is what makes a multi-worker UDF stage scale.  Chunking at
    ~96 KB of text keeps every intermediate (~10x the text size) inside
    the per-core L2/shared L3, so cores do arithmetic instead of queueing
    on the bus, while ~90 docs per chunk still amortize numpy dispatch.
    Chunk boundaries fall on document boundaries, so results are invariant
    to chunk_bytes."""
    bufs = [t.encode("utf-8") if t else b"" for t in texts]
    n = len(bufs)
    sig = np.full((n, num_perm), np.iinfo(np.int64).max, dtype=np.int64)
    sig_flat = sig.reshape(-1)
    powers = _powers(k)
    i = 0
    while i < n:
        j = i
        tot = 0
        while j < n and (j == i or tot + len(bufs[j]) <= chunk_bytes):
            tot += len(bufs[j])
            j += 1
        _oph_scatter_chunk(bufs[i:j], i, k, num_perm, powers, sig_flat)
        i = j
    # densification, vectorized across the batch: for each doc, empty slots
    # borrow the nearest filled slot to the left (circular) plus distance
    empty = sig == np.iinfo(np.int64).max
    any_filled = ~empty.all(axis=1)
    if empty.any():
        idx = np.arange(num_perm)
        filled_pos = np.where(~empty, idx[None, :], -1)
        left = np.maximum.accumulate(filled_pos, axis=1)
        # wrap: docs whose first slots are empty borrow from the last filled
        last_filled = left[:, -1]
        need_wrap = left == -1
        left = np.where(need_wrap, last_filled[:, None], left)
        rows = np.arange(n)[:, None]
        borrow = sig[rows, np.maximum(left, 0)]
        dist = (idx[None, :] - left) % num_perm
        dens = (borrow + dist) % P31
        sig = np.where(empty, dens, sig)
    sig[~any_filled] = P31
    return sig.astype(np.int32)


def kperm_signatures_batch(texts: list[str | None], k: int, num_perm: int,
                           seed: int = 42) -> np.ndarray:
    """Classic k-permutation MinHash over a batch — deliberately a PER-DOC
    loop, not a whole-batch vectorization.

    Why: per doc, the (num_perm x n_shingles) universal-hash matrix is
    ~100-500 KB — cache-resident, so the stage is pure compute (idiv-bound)
    and scales near-linearly with cores.  A whole-batch formulation (one
    concatenated hash array + per-permutation reduceat) measured 1.16x
    faster SINGLE-threaded but streams ~36 MB per pass per worker; with 32
    parallel workers it saturates the shared memory bus and collapsed the
    measured 8->32-core pipeline efficiency from 0.82 to 0.47 — the exact
    failure mode that disqualifies OPH as the default.  Keep this loop
    cache-resident; it is the property that makes kperm the scheme that
    passes the north-rule scaling gate."""
    a, b = _coeffs(num_perm, seed)
    out = np.empty((len(texts), num_perm), dtype=np.int32)
    for i, t in enumerate(texts):
        out[i] = np.asarray(minhash_signature(t, k, a, b), dtype=np.int64) \
            .astype(np.int32, casting="unsafe")
    return out


def simhash_batch(texts: list[str | None], k: int) -> np.ndarray:
    """Vectorized SimHash over a whole batch — bit-identical to the per-doc
    ``simhash64`` path.  One concatenated hash pass, per-doc shingle dedup
    via one sort (unique of doc_id*2^31 + hash), then per-bit majority votes
    as segment sums (np.add.reduceat) instead of a per-doc Python loop."""
    hashes, doc_of, n = concat_poly_hashes(texts, k)
    out = np.zeros(n, dtype=np.int64)
    if not hashes.size:
        return out
    # per-doc unique shingles, preserving doc grouping (simhash64 votes
    # over the unique shingle set — duplicates would bias the majority)
    combined = np.unique(doc_of * np.int64(1 << 31) + hashes)
    doc_u = combined >> np.int64(31)
    hash_u = combined & np.int64((1 << 31) - 1)
    mixed = _mix64(hash_u)
    seg_starts = np.flatnonzero(np.diff(doc_u, prepend=-1))
    present = doc_u[seg_starts]
    seg_len = np.diff(np.append(seg_starts, len(doc_u)))
    # per-bit majority as 64 contiguous bit-plane passes (an unpackbits
    # (m, 64) matrix + axis-0 reduceat is column-strided — measured 30x
    # slower — and overflows uint8 segment sums past 255 shingles)
    words = np.zeros(len(seg_starts), dtype=np.uint64)
    tmp = np.empty_like(mixed)
    one = np.uint64(1)
    for b in range(64):
        np.right_shift(mixed, np.uint64(b), out=tmp)
        np.bitwise_and(tmp, one, out=tmp)
        ones = np.add.reduceat(tmp, seg_starts).astype(np.int64)
        majority = (2 * ones - seg_len) > 0
        words |= majority.astype(np.uint64) << np.uint64(b)
    out[present] = words.astype(np.int64)  # wrap to signed for LongType
    return out


def minhash_map_in_arrow(df, shingle_k: int, num_perm: int,
                         id_col: str = "doc_id", text_col: str = "text",
                         out_col: str = "minhash", scheme: str | None = None,
                         passthrough: tuple[str, ...] = ()):
    """Arrow-native signature stage: mapInArrow consumes RecordBatches and
    emits the signature column as a pyarrow ListArray built directly from
    one flat numpy buffer + offsets — no per-row Python list materialization
    (5x less serialization overhead than returning list objects from a
    pandas UDF; measured 1000 -> ~5000 docs/sec/core)."""
    import pyarrow as pa

    scheme = scheme or _default_scheme()
    batch_fn = (
        oph_signatures_batch if scheme == "oph" else kperm_signatures_batch
    )

    def gen(batches):
        for batch in batches:
            cols = [batch.column(id_col)] + [
                batch.column(c) for c in passthrough
            ]
            texts = batch.column(text_col).to_pylist()
            flat = batch_fn(texts, shingle_k, num_perm).reshape(-1)
            offsets = pa.array(
                np.arange(0, (len(texts) + 1) * num_perm, num_perm,
                          dtype=np.int32)
            )
            sig = pa.ListArray.from_arrays(offsets, pa.array(flat))
            yield pa.RecordBatch.from_arrays(
                cols + [sig], [id_col, *passthrough, out_col]
            )

    pass_schema = "".join(f", {c} long" for c in passthrough)
    schema = f"{id_col} long{pass_schema}, {out_col} array<int>"
    from humid_spark.partitioning import spread

    # spread the NARROW projection before the UDF: a single-row-group
    # input otherwise pins the whole signature stage to one core (the
    # repartition only fires in that degenerate case — see partitioning)
    return spread(df.select(id_col, *passthrough, text_col)).mapInArrow(
        gen, schema
    )


def make_simhash_udf(shingle_k: int):
    @pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(texts.tolist(), shingle_k))

    return simhash_udf


def est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard estimate: fraction of agreeing signature slots
    (JVM-side array expression, no UDF)."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree / F.size(sig_a)


# ---------------------------------------------------------------------------
# SQL parity path: identical formulas in Spark Column land and DuckDB SQL.
# Shingle hash: first 14 hex chars of md5 (56 bits, positive in int64) mod p.
# Permutation j: ((2j+1)*2654435761 + j*40503 + 7) coefficients mod p.
# ---------------------------------------------------------------------------

def _sql_perm_coeffs(num_perm: int) -> list[tuple[int, int]]:
    return [
        (((2 * j + 1) * 2654435761) % P31, (j * 40503 + 7) % P31)
        for j in range(num_perm)
    ]


def sql_parity_sig_table(docs, k: int, num_perm: int,
                         id_col: str = "doc_id", text_col: str = "text"):
    """(id, sh, h0..h{num_perm-1}): distinct md5-shingle array plus the
    per-permutation minima, all built-in expressions.

    The md5-per-shingle transform is the expensive projection of the SQL
    parity path.  Callers that fan out (band self-joins, Jaccard verify)
    must materialize this ONCE (``.localCheckpoint(eager=True)``) — without
    that, each of B band self-joins recomputes the transform on both sides
    (2B×/doc) and the verify twice more.  Minima over the distinct shingle
    set equal minima over the raw multiset, so one table serves both the
    signature and the exact-Jaccard consumers."""
    shingles = (
        f"array_distinct(transform("
        f"sequence(1, greatest(1, length({text_col}) - {k - 1})),"
        f" i -> cast(conv(substr(md5(substring({text_col}, i, {k})), 1, 14), 16, 10) as bigint) % {P31}))"
    )
    df = docs.select(id_col, F.expr(shingles).alias("sh"))
    mins = [
        F.expr(
            f"array_min(transform(sh, h -> ((h * {a}L) % {P31} + {b}L) % {P31}))"
        ).alias(f"h{j}")
        for j, (a, b) in enumerate(_sql_perm_coeffs(num_perm))
    ]
    return df.select(id_col, "sh", *mins)


def minhash_sql_duckdb(text_col: str, k: int, num_perm: int) -> str:
    shingles = (
        f"list_transform(generate_series(1, greatest(1, length({text_col}) - {k - 1})),"
        f" i -> cast(('0x' || substr(md5(substring({text_col}, i, {k})), 1, 14)) as bigint) % {P31})"
    )
    mins = ", ".join(
        f"list_min(list_transform(sh, h -> ((h * {a}) % {P31} + {b}) % {P31}))"
        for a, b in _sql_perm_coeffs(num_perm)
    )
    return f"list_transform([{shingles}], sh -> [{mins}])[1]"


def simhash_sql_spark(text_col: str, k: int, bits: int = 16) -> Column:
    """SimHash over the same md5 shingle hashes; `bits` low bits only so the
    SQL oracle stays cheap (the engine path does the full 64)."""
    shingles = (
        f"transform(sequence(1, greatest(1, length({text_col}) - {k - 1})),"
        f" i -> cast(conv(substr(md5(substring({text_col}, i, {k})), 1, 14), 16, 10) as bigint) % {P31})"
    )
    bit_terms = " + ".join(
        f"(case when aggregate(sh, 0L, (acc, h) -> acc + (case when (h div {1 << i}) % 2 = 1 then 1 else -1 end)) > 0 then {1 << i}L else 0L end)"
        for i in range(bits)
    )
    return F.expr(f"transform(array({shingles}), sh -> {bit_terms})[0]")


_M64 = 1 << 64


def _mul_mod64_duckdb(z: str, c: int) -> str:
    """(z * c) mod 2^64 in DuckDB HUGEINT without overflowing the signed
    128-bit range: split z into 32-bit halves so every intermediate stays
    under 2^96."""
    return (f"((({z}) % 4294967296) * {c} + (((({z}) // 4294967296) * {c})"
            f" % 4294967296) * 4294967296) % {_M64}")


def mix64_duckdb(h: str) -> str:
    """The engine's splitmix64 avalanche (``_mix64``) as a DuckDB HUGEINT
    expression — verified bit-identical to the numpy path (uint64 wrap
    emulated with mod-2^64 arithmetic; xor/>> are native on HUGEINT).
    Input expression must be a non-negative HUGEINT."""
    z1 = f"((({h}) + 11400714819323198485) % {_M64})"
    z2 = f"xor({z1}, ({z1}) >> 30)"
    z3 = f"({_mul_mod64_duckdb(z2, 0xBF58476D1CE4E5B9)})"
    z4 = f"xor({z3}, ({z3}) >> 27)"
    z5 = f"({_mul_mod64_duckdb(z4, 0x94D049BB133111EB)})"
    return f"xor({z5}, ({z5}) >> 31)"


def simhash_sql_duckdb(text_col: str, k: int, bits: int = 16) -> str:
    shingles = (
        f"list_transform(generate_series(1, greatest(1, length({text_col}) - {k - 1})),"
        f" i -> cast(('0x' || substr(md5(substring({text_col}, i, {k})), 1, 14)) as bigint) % {P31})"
    )
    bit_terms = " + ".join(
        f"(case when list_sum(list_transform(sh, h -> (case when (h // {1 << i}) % 2 = 1 then 1 else -1 end))) > 0 then {1 << i} else 0 end)"
        for i in range(bits)
    )
    return f"list_transform([{shingles}], sh -> {bit_terms})[1]"
