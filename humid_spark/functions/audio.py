"""Audio column handling (training-data-pipeline extra).

Like images (`functions/multimodal.py`), audio rides as an opaque
`binary` column with typed metadata extracted by Arrow-batched
`mapInPandas` — and like the image path since round 5, the decode is
REAL, not stubbed: RIFF/WAVE PCM (the interchange format every audio
toolchain emits) parses with stdlib `struct` + numpy only.  Feature
extraction sticks to exact integer statistics (energy as a sum of
squares, zero crossings, sample counts) so results are reproducible
bit-for-bit across Spark, numpy and a SQL oracle — the same
hash-robustness discipline as the image channel sums.  Blobs that are
not PCM WAV (compressed codecs need external libraries this container
does not ship) fall back to a clearly-marked `decoded=False` row.

Scale: decode + stats is a narrow mapInPandas pass — blobs never enter a
shuffle; downstream dedup joins carry only (url, stats/hash) rows.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE writer: 16-bit PCM, `samples` shaped (n,) mono
    or (n, channels).  The sink-side counterpart of `decode_wav` (and the
    deterministic planting helper for tests/oracles)."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    payload = s.tobytes()  # interleaved frames — row-major is exactly that
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(payload))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )


def decode_wav(blob: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF/WAVE PCM decode: returns (n_channels, sample_rate,
    samples[n, channels] int16).  Supports 16-bit PCM (format 1) and
    8-bit unsigned PCM (rescaled to int16 as (v - 128) << 8); walks the
    chunk list, so extra chunks (LIST/INFO, fact, ...) are fine."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i, fmt, data = 12, None, None
    while i + 8 <= len(blob):
        cid, ln = struct.unpack_from("<4sI", blob, i)
        body = blob[i + 8 : i + 8 + ln]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        i += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated WAV (missing fmt/data chunk)")
    audio_format, ch, rate, _brate, _balign, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError("non-PCM or unsupported bit depth")
    if bits == 16:
        flat = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    else:
        flat = (
            np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128
        ) << 8
    n = len(flat) // ch
    return ch, rate, flat[: n * ch].reshape(n, ch)


def audio_fp64(samples: np.ndarray) -> int:
    """64-bit acoustic fingerprint, ALL-INTEGER: mix channels by
    summation (stays integral), split the mix into 65 equal segments on
    floor boundaries (bound k = k*n//65, the same grid rule as the
    image aHash), take each segment's energy as an int64 sum of
    squares, and set bit k iff energy[k+1] > energy[k] — delta-coding
    the energy envelope, the shape Haitsma-Kalker-style audio hashes
    use, reduced to exact integers.

    Volume-scale invariant by construction: scaling every sample by an
    integer c multiplies every segment energy by c^2, so all 64
    comparisons are unchanged — a louder re-encode fingerprints
    identically where byte-level sha2 sees nothing.  Returns the SIGNED
    int64 (bit 63 wraps negative) for LongType and the 64-bit band
    join.  Requires n >= 65 samples (raises ValueError — shorter clips
    have no envelope to code)."""
    s = np.asarray(samples, dtype=np.int64)
    mix = s.sum(axis=1) if s.ndim == 2 else s
    n = mix.shape[0]
    if n < 65:
        raise ValueError("need >= 65 samples for the 65-segment envelope")
    bounds = [k * n // 65 for k in range(65)]
    energy = np.add.reduceat(mix * mix, bounds)
    bits = (energy[1:] > energy[:-1]).astype(np.uint64)
    packed = int((bits << np.arange(64, dtype=np.uint64)).sum())
    return packed - (1 << 64) if packed >= (1 << 63) else packed


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("afp", T.LongType(), True),
    ]
)


def audio_fingerprints(df: DataFrame, blob_col: str = "html",
                       url_col: str = "url") -> DataFrame:
    """(url, afp) for every decodable blob with >= 65 samples;
    undecodable or too-short blobs yield null (callers filter)."""
    cols = df.select(F.col(url_col).alias("url"), F.col(blob_col).alias("blob"))

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf["url"], pdf["blob"]):
                fp = None
                try:
                    _ch, _rate, s = decode_wav(blob)
                    fp = audio_fp64(s)
                except (ValueError, struct.error, TypeError):
                    fp = None
                rows.append((url, fp))
            yield pd.DataFrame(rows, columns=["url", "afp"])

    return cols.mapInPandas(fps, AUDIO_FP_SCHEMA)


def audio_near_dups(
    df: DataFrame,
    blob_col: str = "html",
    url_col: str = "url",
    max_bits: int = 3,
    n_bands: int = 4,
    band_cap: int = 2000,
    track: list | None = None,
) -> DataFrame:
    """Acoustic near-duplicate detection — the audio counterpart of the
    image aHash path:
    REAL WAV decode -> 64-bit envelope fingerprint (one narrow Arrow
    pass; blobs never shuffle) -> the engine's capped+salted SimHash
    band join.  With max_bits < n_bands blocking is
    pigeonhole-EXHAUSTIVE.  Returns (src, dst, bit_dist), src < dst;
    volume-rescaled re-encodes land at distance 0."""
    from humid_spark.operators.lsh import simhash_pairs

    fps = audio_fingerprints(df, blob_col=blob_col, url_col=url_col).filter(
        F.col("afp").isNotNull()
    )
    return simhash_pairs(
        fps, max_bits=max_bits, n_bands=n_bands,
        id_col="url", sim_col="afp",
        band_cap=band_cap, track=track,
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("decoded", T.BooleanType(), False),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sumsq", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ]
)


def audio_stats(df: DataFrame, blob_col: str = "html",
                url_col: str = "url") -> DataFrame:
    """Exact integer audio features via the stdlib WAV decoder:

    - n_samples / duration_ms (floor(n * 1000 / rate))
    - sumsq: total energy as the int64 sum of squares over ALL channels
      (exact — no float RMS, hash-robust by construction)
    - zero_crossings: sign changes along channel 0 (a cheap voicedness /
      noisiness proxy; `(prev < 0) != (cur < 0)` so 0 counts as
      non-negative, matching SQL's `s < 0` predicate exactly)

    Undecodable blobs keep decoded=False with null stats."""
    cols = df.select(F.col(url_col).alias("url"), F.col(blob_col).alias("blob"))

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf["url"], pdf["blob"]):
                try:
                    ch, rate, s = decode_wav(blob)
                except (ValueError, struct.error):
                    rows.append((url, False, None, None, None, None,
                                 None, None))
                    continue
                n = s.shape[0]
                sq = int((s.astype(np.int64) ** 2).sum())
                c0 = s[:, 0] < 0
                zc = int(np.count_nonzero(c0[1:] != c0[:-1]))
                rows.append((url, True, ch, rate, n,
                             n * 1000 // rate if rate else None, sq, zc))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields]
            )

    return cols.mapInPandas(stats, AUDIO_STATS_SCHEMA)
