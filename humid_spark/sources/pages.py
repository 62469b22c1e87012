"""Deterministic synthetic `pages` tables (FIXTURES.md).

Re-expresses the reference's unit-test topologies
(/root/reference/tests/test_cluster.cc, tests/test_fastq.cc) over text
payloads, plus engine-mode web-text / skew / bench tiers.  All generation is
seeded; no external data.

Schema (BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)
html is the utf-8 encoding of text (extraction invariant: byte-identical).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ACGT = "ACGT"
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def mut(word: str, pos: int) -> str:
    """Substitute pos with the next ACGT-cycle letter (Hamming distance 1)."""
    c = word[pos]
    nc = ACGT[(ACGT.index(c) + 1) % 4]
    return word[:pos] + nc + word[pos + 1 :]


def base_words(n: int, length: int = 24, min_dist: int = 3, seed: int = 42) -> list[str]:
    """Random ACGT words with pairwise Hamming distance >= min_dist
    (rejection-sampled) so unrelated clusters never link at m=1."""
    rng = random.Random(seed)
    words: list[str] = []
    while len(words) < n:
        w = "".join(rng.choice(ACGT) for _ in range(length))
        if all(sum(a != b for a, b in zip(w, v)) >= min_dist for v in words):
            words.append(w)
    return words


def _rows(fixture: str, specs: list[tuple[str, str | None, int]], lang: str = "en"):
    """specs: (hint, text, count) -> count rows with identical text."""
    out = []
    i = 0
    for hint, text, count in specs:
        for j in range(count):
            out.append(
                {
                    "url": f"https://fx-{fixture}.example/{hint}/{i}",
                    "warc_ts": EPOCH + timedelta(seconds=i),
                    "html": text.encode() if text is not None else None,
                    "text": text,
                    "lang": lang,
                }
            )
            i += 1
            _ = j
    return out


def fx_cluster_chain() -> list[dict]:
    """5-node Hamming-1 chain, counts 2-4-8-10-3 (tests/test_cluster.cc:73-137)."""
    w = base_words(1)[0]
    n1 = mut(mut(w, 0), 1)
    n2 = mut(w, 0)
    n3 = w
    n4 = mut(w, 2)
    n5 = mut(mut(w, 2), 3)
    return _rows(
        "chain",
        [("n1", n1, 2), ("n2", n2, 4), ("n3", n3, 8), ("n4", n4, 10), ("n5", n5, 3)],
    )


def fx_cluster_chain_gap() -> list[dict]:
    """Same but node4/5 on a second base word: drops the 3-4 edge, reproducing
    the unit test's exact two-cluster outcome {1,2,3} size 14 rep n3 and
    {4,5} size 13 rep n4 (tests/test_cluster.cc:109-136)."""
    w, v = base_words(2)
    n1 = mut(mut(w, 0), 1)
    n2 = mut(w, 0)
    n3 = w
    n4 = v
    n5 = mut(v, 3)
    return _rows(
        "chaingap",
        [("n1", n1, 2), ("n2", n2, 4), ("n3", n3, 8), ("n4", n4, 10), ("n5", n5, 3)],
    )


def fx_cluster_lone() -> list[dict]:
    """Single word, count 1 -> its own cluster (tests/test_cluster.cc:23-28)."""
    return _rows("lone", [("n1", base_words(1)[0], 1)])


def fx_word_distance() -> list[dict]:
    """Key construction & mismatch matrix (tests/test_fastq.cc:48-110,197-202)."""
    ws = base_words(6)
    specs: list[tuple[str, str | None, int]] = []
    # truncation: agree on first 24 chars, differ after -> exact dups
    specs.append(("long_a", ws[0] + "AAAA", 1))
    specs.append(("long_b", ws[0] + "TTTT", 1))
    # mismatch sweep at positions 0, 11, 23: d=1 links, d=2 does not
    for pos, w in zip((0, 11, 23), ws[1:4]):
        specs.append((f"d0_p{pos}", w, 2))
        specs.append((f"d1_p{pos}", mut(w, pos), 1))
        specs.append((f"d2_p{pos}", mut(mut(w, pos), (pos + 5) % 24), 1))
    # short text -> padded with N -> unusable in parity mode
    specs.append(("short", ws[4][:10], 1))
    # invalid alphabet inside the window
    specs.append(("badchar", ws[5][:12] + "N" + ws[5][13:], 1))
    specs.append(("empty", "", 1))
    specs.append(("null", None, 1))
    return _rows("wdist", specs)


def fx_umi_header() -> list[dict]:
    """URL-token extraction analog (tests/test_fastq.cc:9-46,157-195)."""
    w = base_words(1)[0]
    rows = _rows(
        "umi",
        [
            ("u_AATT", w, 1),
            ("uc", w, 1),
            ("u_aatt", w, 1),
            ("u_ATCGN", w, 1),
            ("plain", w, 1),
        ],
    )
    suffix = {"u_AATT": "_AATT", "uc": ":ATCG", "u_aatt": "_aatt", "u_ATCGN": "_ATCGN", "plain": ""}
    for r in rows:
        hint = r["url"].split("/")[-2]
        r["url"] = r["url"] + suffix[hint]
    return rows


def _make_vocab(n: int = 3000, seed: int = 1234) -> list[str]:
    """Synthetic vocabulary large enough that UNRELATED docs share almost no
    shingles (real web text has diverse vocabulary; a tiny vocabulary makes
    every doc pair ~35% Jaccard-similar and floods any honest LSH with
    candidates — an artifact of the generator, not of web data)."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = set()
    while len(vocab) < n:
        vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(vocab)


_VOCAB = _make_vocab()


def _sentence(rng: random.Random, n: int, words: list[str] | None = None) -> str:
    ws = words if words is not None else _VOCAB
    return " ".join(rng.choice(ws) for _ in range(n)) + "."


def _doc(rng: random.Random, min_chars: int = 200, max_chars: int = 2000) -> str:
    target = rng.randint(min_chars, max_chars)
    # per-doc topic: a 150-word subset of the vocabulary (docs repeat their
    # own words like real pages do, but barely overlap with other docs)
    topic = [_VOCAB[rng.randrange(len(_VOCAB))] for _ in range(150)]
    parts: list[str] = []
    while sum(len(p) + 1 for p in parts) < target:
        parts.append(_sentence(rng, rng.randint(6, 14), topic))
    return " ".join(parts)


def _edit_doc(rng: random.Random, text: str) -> str:
    """1-3 small edits: word swap / sentence drop / whitespace change."""
    out = text
    for _ in range(rng.randint(1, 3)):
        op = rng.randint(0, 2)
        if op == 0:
            words = out.split(" ")
            if len(words) > 3:
                i = rng.randrange(len(words) - 1)
                words[i], words[i + 1] = words[i + 1], words[i]
                out = " ".join(words)
        elif op == 1:
            sents = out.split(". ")
            if len(sents) > 3:
                del sents[rng.randrange(len(sents))]
                out = ". ".join(sents)
        else:
            i = rng.randrange(max(1, len(out) - 1))
            out = out[:i] + "  " + out[i:]
    return out


def fx_webtext(n_seeds: int = 200, seed: int = 42) -> list[dict]:
    """Realistic near-dup web pages (engine mode), FIXTURES.md §4."""
    rng = random.Random(seed)
    specs: list[tuple[str, str | None, int]] = []
    seeds: list[str] = []
    for s in range(n_seeds):
        doc = _doc(rng)
        seeds.append(doc)
        specs.append((f"seed{s}", doc, 1))
        ndups = 0
        while ndups < 8 and rng.random() < 0.5:
            specs.append((f"seed{s}-dup{ndups}", _edit_doc(rng, doc), 1))
            ndups += 1
    for s in range(50):
        specs.append((f"single{s}", _doc(rng), 1))
    for s in range(20):
        specs.append((f"exact{s}", seeds[rng.randrange(n_seeds)], 1))
    for s in range(10):
        inner = seeds[rng.randrange(n_seeds)]
        filler = _doc(rng, len(inner) * 3, len(inner) * 3 + 200)
        cut = len(filler) // 2
        specs.append((f"contain{s}", filler[:cut] + " " + inner + " " + filler[cut:], 1))
    rows = _rows("webtext", specs)
    for r in rows:
        if random.Random(r["url"]).random() < 0.1:
            r["lang"] = "de"
    return rows


def fx_skew(seed: int = 42) -> list[dict]:
    """Hot-bucket adversarial fixture (FIXTURES.md §5)."""
    rng = random.Random(seed)
    footer = _sentence(rng, 60)[:300]
    specs: list[tuple[str, str | None, int]] = []
    for s in range(5000):
        specs.append((f"boiler{s}", _doc(rng, 300, 600) + " " + footer, 1))
    mega = _doc(rng, 500, 800)
    specs.append(("mega", mega, 1000))
    specs.append(("emoji", "🌍🌍🌍 émojis and‏rtl‎ text " * 10, 1))
    base = _doc(rng, 100, 200)
    for ln in (0, 1, 23, 24, 25):
        specs.append((f"len{ln}", base[:ln], 1))
    return _rows("skew", specs)


def to_spark(spark: SparkSession, rows: list[dict]) -> DataFrame:
    data = [
        (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows
    ]
    return spark.createDataFrame(data, PAGES_SCHEMA)
