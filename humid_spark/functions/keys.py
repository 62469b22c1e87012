"""Key construction — the reference's word-building projections (SURVEY.md §2.2)
re-expressed as Catalyst column expressions (JVM-side, whole-stage-codegen;
no Python in the hot path).

Reference parity map:
- extract_last_field  <- extractLastField (reference src/fastq.cc:192-199):
  substring after the LAST separator, '' when the separator is absent.
- valid_key_token     <- validUMI (src/fastq.cc:201-214): non-empty and all
  chars in the alphabet.
- extract_url_token   <- extractUMI_ (src/fastq.cc:72-93): token before first
  space; last '_'-field if valid, else last ':'-field if valid, else ''.
- cut_or_pad          <- makeStringSize_ (src/fastq.cc:57-66): force length n,
  right-pad with pad char.
- with_key_columns    <- makeWord (src/fastq.cc:146-161) + the usable flag
  (word.filtered): pad char or out-of-alphabet char poisons the key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from humid_spark.config import DedupConfig
from humid_spark.functions.urls import canonical_url


def doc_id_expr(url: Column) -> Column:
    """64-bit document identity: doc_id = xxhash64(canonical url).

    Collision tolerance — documented and ACCEPTED (round 6): with n
    distinct urls the expected number of silent id collisions is
    ~ n^2 / 2^65 (birthday bound) — ~3 at the 100-TB aspiration of
    10^10 pages, 0 at sandbox scale.  Blast radius of one collision
    (pinned by tests/test_docid_collision.py):
    - exact tier: UNAFFECTED — exact collapse keys on text_hash =
      xxhash64(text); colliding urls with different texts stay distinct
      uniq rows (doc_id is only the representative label).
    - identity takedown: OVER-deletes — the identity probe semi-joins on
      doc_id, so every text hanging under the shared id dies.  More than
      asked, never less: the fail-safe direction for a takedown.
    - cluster map: the real casualty — both urls are the same graph
      node, so their clusters silently merge (wrong membership for one
      of them).
    Widening to a two-column 128-bit id would close the residue at the
    cost of doubling every id-keyed shuffle key; at ~3 wrong cluster
    memberships per 10^10 docs the 64-bit id is the right trade, and
    this helper is the single place to widen if a deployment disagrees.
    Tests monkeypatch this helper to a narrow hash to FORCE collisions."""
    return F.xxhash64(url)


def doc_identity(cfg: DedupConfig) -> tuple[Column, Column]:
    """(doc_id, usable) over a pages frame's ``url`` and ``text`` columns —
    the one derivation ingest, annotate, takedown and the batch pipeline
    share, so a page has the same identity on every path.  doc_id hashes
    the canonical url when ``cfg.canonicalize_urls``; usable = non-null
    text of at least max(shingle_k, 1) chars (shorter text has no
    shingle).  ``doc_id_expr`` is resolved per call, so a patched helper
    reaches every path."""
    url = F.col("url")
    if cfg.canonicalize_urls:
        url = canonical_url(url)
    usable = F.col("text").isNotNull() & (
        F.length("text") >= max(cfg.shingle_k, 1)
    )
    return doc_id_expr(url), usable


def extract_last_field(col: Column, sep: str) -> Column:
    """Substring after the last `sep`; '' if `sep` does not occur.

    Note: plain substring_index(col, sep, -1) returns the WHOLE string when
    the separator is absent — the reference returns '' (src/fastq.cc:195-197),
    so guard with instr().
    """
    return F.when(
        F.instr(col, sep) > 0, F.substring_index(col, sep, -1)
    ).otherwise(F.lit(""))


def valid_key_token(col: Column, alphabet: str = "ACGT") -> Column:
    """Non-empty and every char within `alphabet` (src/fastq.cc:201-214)."""
    return (F.length(col) > 0) & col.rlike(f"^[{alphabet}]+$")


def extract_url_token(url: Column, alphabet: str = "ACGT") -> Column:
    """UMI-extraction analog over urls (src/fastq.cc:72-93).

    Token before the first space; then last '_'-field when it is a valid
    alphabet token, else last ':'-field when valid, else ''.
    """
    head = F.substring_index(url, " ", 1)
    under = extract_last_field(head, "_")
    colon = extract_last_field(head, ":")
    return (
        F.when(valid_key_token(under, alphabet), under)
        .when(valid_key_token(colon, alphabet), colon)
        .otherwise(F.lit(""))
    )


def cut_or_pad(col: Column, n: int, pad: str = "N") -> Column:
    """Force string to length n: truncate or right-pad (src/fastq.cc:57-66)."""
    return F.rpad(F.substring(col, 1, n), n, pad)


def peek_umi_size(df: DataFrame, cfg: DedupConfig, url_col: str = "url",
                  ts_col: str = "warc_ts") -> int:
    """S2 data probe — the reference's peekUMI (src/humid.cc:24-33): read
    ONE record (the first in doc order = (warc_ts, url)) and measure its
    url key-token length.  The result parameterizes the key plan for the
    whole run, exactly like the reference measures the header-UMI size once
    and applies it to every read.

    Cost: one TakeOrderedAndProject pass over just the two pruned
    (ts, url) columns — per-partition top-1, no shuffle, no regex on the
    scan; the token regex runs on the single winning row.  (The reference
    reads literally the first file record; our tables have no file order,
    so "first by (ts, url)" is the defined doc order and a partial top-1
    is the cheapest faithful analog — a full min-struct aggregate that
    token-extracted every row is what this replaced.)"""
    alpha = cfg.alphabet or "ACGT"
    row = (
        df.select(ts_col, url_col)
        .orderBy(ts_col, url_col)
        .limit(1)
        .select(extract_url_token(F.col(url_col), alpha).alias("token"))
        .first()
    )
    if row is None:
        return 0
    return len(row["token"] or "")


def key_budget(peek_size: int, cfg: DedupConfig) -> tuple[int, int]:
    """preCompute analog (src/humid.cc:38-59): how many key chars come from
    the url token vs the text.  Token contribution is capped at
    word_length; the text supplies the rest."""
    take_umi = min(peek_size, cfg.word_length)
    return take_umi, cfg.word_length - take_umi


def with_key_columns(df: DataFrame, cfg: DedupConfig, text_col: str = "text",
                     url_col: str = "url",
                     umi_size: int | None = None) -> DataFrame:
    """Append `key` (fixed-length) and `usable` columns.

    Parity mode (cfg.alphabet set): the key window is cut-or-padded to
    word_length; any pad char or out-of-alphabet char poisons the row
    (usable=false), exactly like word.filtered (src/fastq.cc:151-159).
    Padding uses cfg.pad_char which is outside the alphabet, so short texts
    are unusable for free — same net semantics as the reference.

    Engine mode (alphabet None): usable iff text is non-null and at least
    word_length chars; key = first word_length chars.

    With cfg.url_key_prefix, a valid url token contributes the key prefix
    and the text contributes the remaining chars.  Two sub-modes:

    - umi_size=None (lenient): the row's own token, truncated to
      word_length, is concatenated with the text and the whole key is
      cut-or-padded — rows without a valid token fall back to text-only
      keys.
    - umi_size=k (reference-exact, from peek_umi_size): EVERY row
      contributes exactly min(k, n) chars from its token (cut-or-padded —
      a row with an invalid/short token gets pad chars there, poisoning
      it, just like makeStringSize of an empty UMI) and n - min(k, n)
      chars from its text (preCompute, src/humid.cc:38-59).
    """
    n = cfg.word_length
    text = F.col(text_col)
    if cfg.url_key_prefix:
        alpha = cfg.alphabet or "ACGT"
        token = extract_url_token(F.col(url_col), alpha)
        if umi_size is None:
            token = F.substring(token, 1, n)
            key = cut_or_pad(
                F.concat(token, F.coalesce(text, F.lit(""))), n, cfg.pad_char
            )
        else:
            take_umi, take_text = key_budget(umi_size, cfg)
            parts = []
            if take_umi:
                parts.append(cut_or_pad(token, take_umi, cfg.pad_char))
            if take_text:
                parts.append(
                    cut_or_pad(F.coalesce(text, F.lit("")), take_text, cfg.pad_char)
                )
            key = F.concat(*parts)
    else:
        key = cut_or_pad(F.coalesce(text, F.lit("")), n, cfg.pad_char)

    if cfg.alphabet is not None:
        usable = key.rlike(f"^[{cfg.alphabet}]{{{n}}}$")
    else:
        usable = text.isNotNull() & (F.length(text) >= n)

    return df.withColumn("key", key).withColumn("usable", usable)
