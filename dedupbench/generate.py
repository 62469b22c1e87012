"""Seeded, single-process input generators for the dedup benchmark.

Every generator takes the seed as an argument and returns plain Python
records; the same seed always yields the same records.  Two random streams
feed each generator: the shape stream, seeded by the input size alone,
fixes how many pages each group has, how long each text is and which edits
are made, and the content stream, seeded by the workload seed, picks the
words and positions.  So seeds change the text but not the amount of work,
which keeps run-to-run spread down to the host's own noise.

Each web page carries the id of the generator group it came from, and a
page made by embedding another page verbatim carries the embedded text;
the ground truth in ``truth.py`` is built on both.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

LETTERS = "abcdefghijklmnopqrstuvwxyz"
ACGT = "ACGT"


@dataclass(frozen=True)
class Page:
    url: str
    text: str
    group: int
    embeds: str = ""  # the text of a page embedded verbatim in this one


@dataclass(frozen=True)
class Read:
    url: str
    text: str


def _vocab(n: int = 4000) -> list[str]:
    # fixed vocabulary, independent of the workload seed: unrelated pages
    # share almost no 5-shingles, as real web text does
    rng = random.Random(20240611)
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9))))
    return sorted(words)


VOCAB = _vocab()


def doc(rng: random.Random, n_chars: int) -> str:
    """A page body of about ``n_chars`` chars written from a 150-word
    topic."""
    topic = [VOCAB[rng.randrange(len(VOCAB))] for _ in range(150)]
    parts: list[str] = []
    size = 0
    while size < n_chars:
        s = " ".join(rng.choice(topic) for _ in range(rng.randint(6, 14))) + "."
        parts.append(s)
        size += len(s) + 1
    return " ".join(parts)


def edit(shape: random.Random, rng: random.Random, text: str) -> str:
    """1-3 small edits: swap two words, drop a sentence, or double a space.
    ``shape`` picks how many edits and which; ``rng`` picks where."""
    out = text
    for _ in range(shape.randint(1, 3)):
        op = shape.randrange(3)
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


class _Pages:
    """Accumulates pages with unique urls and fresh group ids."""

    def __init__(self, prefix: str, shape: random.Random, rng: random.Random,
                 first_group: int = 1):
        self.prefix, self.shape, self.rng = prefix, shape, rng
        self.pages: list[Page] = []
        self.next_group = first_group

    def group(self) -> int:
        g = self.next_group
        self.next_group += 1
        return g

    def add(self, text: str, group: int, embeds: str = "") -> None:
        self.pages.append(Page(
            f"https://{self.prefix}.example/p/{len(self.pages)}", text, group,
            embeds,
        ))

    def doc(self, lo: int, hi: int) -> str:
        return doc(self.rng, self.shape.randint(lo, hi))

    def edit(self, text: str) -> str:
        return edit(self.shape, self.rng, text)

    def family(self) -> str:
        """A base page of 200-2000 chars, a geometric number (at most 8)
        of 1-3-edit variants, and sometimes an exact copy of the base."""
        g = self.group()
        base = self.doc(200, 2000)
        self.add(base, g)
        n = 0
        while n < 8 and self.shape.random() < 0.4:
            self.add(self.edit(base), g)
            n += 1
        if self.shape.random() < 0.08:
            self.add(base, g)
        return base

    def shuffled(self) -> list[Page]:
        self.rng.shuffle(self.pages)
        return self.pages


def web_crawl(seed: int, n_pages: int, n_variants: int, n_copies: int) -> list[Page]:
    """One crawl snapshot for the batch web pipeline: ``n_pages`` pages of
    families, site pages and embedding pages, plus one mirror page.

    The mix is chosen so that every web path runs, not copied from
    measured crawl traffic (the repo holds no crawl statistics):

    - 60% near-duplicate families (the paper's case: nearly every row a
      distinct text, so signatures, verify and CC carry the work);
    - 30% pages of one site: a header from a small pool, an unrelated
      body and the site-wide footer (false-merge control; the footer's
      winnowing fingerprints are hot);
    - 10% pages that embed a family's base page verbatim (containment
      edges);
    - the mirror page: ``n_copies`` byte-identical copies (removed by the
      exact collapse) and ``n_variants`` copies that each carry a tracking
      token.  The token variants fill the same LSH buckets; at 560
      variants over 500 land in each band's main bucket, past the salting
      threshold of the default ``bucket_cap`` (a quarter of 2000).  With
      the site's pages they also push the footer's and the mirror's
      winnowing fingerprints past the containment cap of 500 documents.
    """
    acc = _Pages(f"crawl{seed}", random.Random(f"crawl:{n_pages}"),
                 random.Random(seed))
    n_fam = int(n_pages * 0.6)
    n_site = int(n_pages * 0.3)
    n_embed = n_pages - n_fam - n_site
    bases: list[str] = []
    while len(acc.pages) < n_fam:
        bases.append(acc.family())
    headers = [acc.doc(200, 450) for _ in range(4)]
    footer = acc.doc(250, 400)
    for _ in range(n_site):
        acc.add(f"{headers[acc.shape.randrange(4)]} {acc.doc(500, 1500)} {footer}",
                acc.group())
    for _ in range(n_embed):
        inner = bases[acc.shape.randrange(len(bases))]
        acc.add(f"{acc.doc(len(inner), len(inner) + 300)} {inner} "
                f"{acc.doc(len(inner), len(inner) + 300)}", acc.group(), inner)
    mirror, g = f"{acc.doc(800, 1500)} {footer}", acc.group()
    for _ in range(n_copies):
        acc.add(mirror, g)
    for _ in range(n_variants):
        token = "".join(acc.rng.choice(LETTERS) for _ in range(10))
        acc.add(f"{mirror} ref {token}.", g)
    return acc.shuffled()


def index_base(seed: int, n_pages: int) -> list[Page]:
    """The base corpus for ``DedupIndex.build``: near-duplicate families."""
    acc = _Pages(f"base{seed}", random.Random(f"base:{n_pages}"),
                 random.Random(seed))
    while len(acc.pages) < n_pages:
        acc.family()
    return acc.shuffled()


def snapshot(seed: int, base: list[Page], s: int, n_pages: int) -> list[Page]:
    """Snapshot ``s`` after ``base``: ~25% exact re-crawls of indexed pages
    (same url, same text), ~25% edits of indexed pages published under new
    urls, ~50% fresh families.  A re-crawl or an edit stays in its base
    page's group; fresh groups are numbered per snapshot."""
    acc = _Pages(f"snap{seed}-{s}", random.Random(f"snap:{n_pages}:{s}"),
                 random.Random(f"{seed}:{s}"), first_group=(s + 1) * 10**7)
    for _ in range(n_pages // 4):
        acc.pages.append(base[acc.shape.randrange(len(base))])
    for _ in range(n_pages // 4):
        src = base[acc.shape.randrange(len(base))]
        acc.add(acc.edit(src.text), src.group)
    while len(acc.pages) < n_pages:
        acc.family()
    return acc.shuffled()


def _hamming(a: str, b: str) -> int:
    return sum(x != y for x, y in zip(a, b))


def reads(seed: int, n_bases: int, word_length: int = 24) -> list[Read]:
    """FastQ-like ACGT reads: base words (pairwise Hamming distance >= 3)
    with Zipf-distributed copy counts, plus Hamming-1 error variants with
    small counts.  Reads run past the key window with a random tail, so
    exact key duplicates usually differ in their full text."""
    rng = random.Random(seed)
    words: list[str] = []
    while len(words) < n_bases:
        w = "".join(rng.choice(ACGT) for _ in range(word_length))
        if all(_hamming(w, v) >= 3 for v in words):
            words.append(w)
    keys: list[str] = []
    for rank, w in enumerate(words, 1):
        keys += [w] * max(1, round(60 / rank ** 0.8))
        for _ in range(rng.choice((0, 0, 1, 2, 3))):
            pos = rng.randrange(word_length)
            alt = rng.choice([c for c in ACGT if c != w[pos]])
            keys += [w[:pos] + alt + w[pos + 1:]] * rng.randint(1, 3)
    rng.shuffle(keys)
    return [
        Read(
            f"read:{i}",
            k + "".join(rng.choice(ACGT) for _ in range(rng.randint(0, 12))),
        )
        for i, k in enumerate(keys)
    ]
