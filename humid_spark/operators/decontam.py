"""Benchmark decontamination: flag/remove corpus documents that share a
word n-gram with an evaluation set.

Public practice (GPT-3 appendix C, The Pile, PaLM): a training document
is *contaminated* when any word n-gram of its text (n=13 is the common
choice) also appears in a benchmark prompt or answer.  This is the
standard pre-training hygiene step that keeps eval sets out of the
training corpus, and it is a pure-composition Spark op — no UDFs.

Spark-first shape (the 100-TB story):
- The benchmark side is eval-set-sized (10^4..10^8 grams) — broadcast
  material next to a web corpus.  Its grams are deduplicated BEFORE the
  broadcast; ``hashed=True`` broadcasts 8-byte xxhash64 keys instead of
  gram strings, shrinking the build side ~10x (collision tolerance
  ~|doc_grams|*|bench_grams|/2^64, same accounting as the engine's
  64-bit doc_id policy in plans/webdedup.py).  The broadcast is
  unconditional — there is no shuffle-join fallback: a gram set that
  outgrows a broadcast fails when Spark builds it, and ``hashed=True``
  is the lever that shrinks it.
- The corpus side NEVER shuffles for the flag itself: per-doc grams are
  deduplicated inside the row (array_distinct over the zip-built n-gram
  array — linear, see functions/textstats._word_ngrams), the explode
  feeds a broadcast-hash join, and the per-doc match count is a
  partial-aggregating groupBy on doc_id (map-side combine collapses to
  at most one row per doc per partition before the exchange).
- ``decontaminate`` skips the count entirely: distinct contaminated ids
  -> one broadcast-sized anti-join list is wrong at web scale (the
  contaminated set is corpus-sized in the worst case), so the anti-join
  stays a regular left_anti on doc_id — Catalyst broadcasts it only if
  it measures small under AQE.

Tokenization is functions/textstats._tokens (trim+lower+whitespace
split), so the DuckDB oracle replays gram-for-gram via sql_word_ngrams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from humid_spark.functions.textstats import word_ngrams


def _gram_col(text: Column, n: int) -> Column:
    # within-row dedup BEFORE the explode: a doc repeating one gram 1000x
    # contributes one join probe, and matched_ngrams counts DISTINCT
    # overlapping grams (the published definition).
    return F.array_distinct(word_ngrams(text, n))


def _bench_grams(
    bench: DataFrame, prompt_col: str, n: int, hashed: bool
) -> DataFrame:
    bg = bench.select(
        F.explode(_gram_col(F.col(prompt_col), n)).alias("g")
    )
    if hashed:
        bg = bg.select(F.xxhash64("g").alias("g"))
    return F.broadcast(bg.distinct())


def contamination_stats(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    prompt_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Per-document overlap stats vs a benchmark table.

    Returns one row per input doc: (id_col, matched_ngrams BIGINT,
    contaminated BOOLEAN) — matched_ngrams = number of DISTINCT word
    n-grams of the doc that appear anywhere in the benchmark, 0 (not
    NULL) for docs with no grams at all (short/NULL text).

    id_col must be a non-null unique key (use ``decontaminate`` for
    composite/nullable-key corpora — it is also cheaper when only the
    surviving rows are needed).
    """
    bg = _bench_grams(bench, prompt_col, n, hashed)
    dg = docs.select(
        F.col(id_col), F.explode(_gram_col(F.col(text_col), n)).alias("g")
    )
    if hashed:
        dg = dg.select(id_col, F.xxhash64("g").alias("g"))
    matched = (
        dg.join(bg, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("matched_ngrams"))
    )
    m = F.coalesce(F.col("matched_ngrams"), F.lit(0)).cast("long")
    return (
        docs.select(id_col)
        .join(matched, id_col, "left")
        .select(
            F.col(id_col),
            m.alias("matched_ngrams"),
            (m > 0).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    *,
    id_col: str | list[str] = "doc_id",
    text_col: str = "text",
    prompt_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Drop contaminated docs; returns the surviving rows of ``docs``
    with their full schema.  Cheaper than filtering contamination_stats:
    no count aggregation — the semi-joined id set is deduplicated and
    anti-joined back (left_anti, sized by AQE).  id_col may be a list
    for corpora without a single unique key (e.g. (url, warc_ts) crawl
    fetches — a contaminated fetch must not drop its url's OTHER
    fetches)."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    bg = _bench_grams(bench, prompt_col, n, hashed)
    dg = docs.select(
        *ids, F.explode(_gram_col(F.col(text_col), n)).alias("g")
    )
    if hashed:
        dg = dg.select(*ids, F.xxhash64("g").alias("g"))
    bad = dg.join(bg, "g").select(*ids).distinct()
    # NULL-SAFE anti join (the webdedup rep-semi-join lesson,
    # plans/webdedup.py): plain equality never matches a NULL key field,
    # so a contaminated row with e.g. a NULL warc_ts would silently
    # survive its own removal.
    d, b = docs.alias("_dec_d"), bad.alias("_dec_b")
    cond = None
    for c in ids:
        e = F.col(f"_dec_d.{c}").eqNullSafe(F.col(f"_dec_b.{c}"))
        cond = e if cond is None else (cond & e)
    return d.join(b, cond, "left_anti").select("_dec_d.*")
