"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID, document fingerprinting.

Beyond the reference's operator set (it has no text analytics), but a
first-class requirement for a web-scale dedup engine feeding LLM training
data.  Every function here has TWO formulations that compute bit-identical
results:

- a Spark Column expression (JVM, whole-stage codegen, no UDF), and
- a DuckDB SQL string (for __spark_entry__ oracle_sql()).

Ratios are integer permille (no float ops) so the driver's value-hash
comparison is exact across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS_EN = (
    "the of and to in a is that it for on with as are was be this have from "
    "or by not at an but we they you he she which their its"
).split()
STOPWORDS_DE = (
    "der die das und zu in ein ist dass es für auf mit als sind war sein "
    "dies haben von oder bei nicht an aber wir sie du er welche ihre"
).split()
STOPWORDS_ES = (
    "el la los las de y a en un una es que para con como son era ser esto "
    "tienen desde o por no al pero nosotros ellos tu"
).split()

_WS = r"\s+"


# --------------------------- Spark expressions ---------------------------

def _tokens(text: Column) -> Column:
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate = chars/4 is in
    token_estimate)."""
    return F.size(_tokens(text))


def token_estimate(text: Column) -> Column:
    """Cheap BPE-ish token estimate: ceil(chars / 4) in integer math."""
    chars = F.length(F.coalesce(text, F.lit("")))
    return F.floor((chars + F.lit(3)) / F.lit(4)).cast("long")


def punct_permille(text: Column) -> Column:
    """1000 * punctuation chars / chars, integer division; 0 for empty."""
    t = F.coalesce(text, F.lit(""))
    punct = F.length(t) - F.length(F.regexp_replace(t, "[.,;:!?]", ""))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.floor((punct * F.lit(1000)) / F.length(t))
    ).cast("long")


def _stop_hits(text: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(_tokens(text), lambda w: F.array_contains(arr, w)))


def stopword_permille(text: Column, words: list[str] | None = None) -> Column:
    """1000 * stopword tokens / tokens, integer division; 0 when no tokens."""
    words = words or STOPWORDS_EN
    n = token_count(text)
    return F.when(n == 0, F.lit(0)).otherwise(
        F.floor((_stop_hits(text, words) * F.lit(1000)) / n)
    ).cast("long")


def quality_class(text: Column) -> Column:
    """Deterministic quality bucket: 'good' needs >= 20 tokens, punctuation
    under 80 permille and stopwords over 100 permille; 'short' under 20
    tokens; else 'noisy'.  Integer thresholds -> exact cross-engine."""
    n = token_count(text)
    return (
        F.when(n < 20, F.lit("short"))
        .when(
            (punct_permille(text) < 80) & (stopword_permille(text) > 100),
            F.lit("good"),
        )
        .otherwise(F.lit("noisy"))
    )


def lang_guess(text: Column) -> Column:
    """Stopword-vote language ID over {en, de, es}: most hits wins, ties and
    zero hits -> 'und' (undetermined).  Tie-break order en > de > es."""
    en = _stop_hits(text, STOPWORDS_EN)
    de = _stop_hits(text, STOPWORDS_DE)
    es = _stop_hits(text, STOPWORDS_ES)
    return (
        F.when((en == 0) & (de == 0) & (es == 0), F.lit("und"))
        .when((en >= de) & (en >= es), F.lit("en"))
        .when(de >= es, F.lit("de"))
        .otherwise(F.lit("es"))
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the byte-identical-text invariant column (BASELINE.json input_hint)."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), _WS, " "))
    return F.md5(norm.cast("binary"))


# ----------------------------- DuckDB SQL -----------------------------

def _sql_tokens(text: str) -> str:
    return (
        f"(case when length(trim(lower({text}))) = 0 then [] "
        f"else string_split_regex(trim(lower({text})), '\\s+') end)"
    )


def sql_token_count(text: str) -> str:
    return f"len({_sql_tokens(text)})"


def sql_punct_permille(text: str) -> str:
    t = f"coalesce({text}, '')"
    punct = f"(length({t}) - length(regexp_replace({t}, '[.,;:!?]', '', 'g')))"
    return (
        f"(case when length({t}) = 0 then 0 "
        f"else ({punct} * 1000) // length({t}) end)"
    )


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _sql_stop_hits(text: str, words: list[str]) -> str:
    return (
        f"len(list_filter({_sql_tokens(text)}, "
        f"w -> list_contains({_sql_list(words)}, w)))"
    )


def sql_stopword_permille(text: str, words: list[str] | None = None) -> str:
    words = words or STOPWORDS_EN
    return (
        f"(case when {sql_token_count(text)} = 0 then 0 "
        f"else ({_sql_stop_hits(text, words)} * 1000) // {sql_token_count(text)} end)"
    )


def sql_quality_class(text: str) -> str:
    return (
        f"(case when {sql_token_count(text)} < 20 then 'short' "
        f"when {sql_punct_permille(text)} < 80 "
        f"and {sql_stopword_permille(text)} > 100 then 'good' "
        f"else 'noisy' end)"
    )


def sql_lang_guess(text: str) -> str:
    en = _sql_stop_hits(text, STOPWORDS_EN)
    de = _sql_stop_hits(text, STOPWORDS_DE)
    es = _sql_stop_hits(text, STOPWORDS_ES)
    return (
        f"(case when {en} = 0 and {de} = 0 and {es} = 0 then 'und' "
        f"when {en} >= {de} and {en} >= {es} then 'en' "
        f"when {de} >= {es} then 'de' else 'es' end)"
    )


def sql_fingerprint(text: str) -> str:
    norm = (
        f"trim(regexp_replace(lower(coalesce({text}, '')), '\\s+', ' ', 'g'))"
    )
    return f"md5({norm})"


# ------------------- repetition signals (round 5) -------------------
# Intra-document duplication metrics of the C4/Gopher filtering family:
# heavily self-repeating pages are low-quality training data even when
# they are nobody's near-duplicate.  Same dual-formulation contract as
# the rest of this module — Spark Column expressions (pure JVM,
# whole-stage codegen) and bit-identical DuckDB SQL; integer permille.

def _word_ngrams(text: Column, n: int) -> Column:
    """Word n-grams by ZIPPING the token array with its own shifts —
    never transform(sequence(...), i -> slice(toks, i, n)): a lambda
    that captures the derived token array re-evaluates it per element
    (no hoisting across the lambda boundary in either engine), turning
    n-gram GENERATION itself O(tokens^2) per row.  zip_with's lambda
    touches only its element arguments; the shifted slices are plain
    function arguments evaluated once.  Shorter shifts pad with NULL,
    concat propagates the NULL, the final filter drops the tail —
    exactly cnt-n+1 grams in document order.  Mirror: _sql_word_ngrams."""
    toks = _tokens(F.coalesce(text, F.lit("")))  # NULL text -> 0, not NULL
    cnt = F.size(toks)
    g = toks
    for k in range(1, n):
        shifted = F.slice(
            toks, k + 1, F.greatest(cnt - k, F.lit(0))
        )
        g = F.zip_with(g, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(g, lambda x: x.isNotNull())


# public names for the n-gram twins (operators/decontam.py builds the
# benchmark-overlap join on exactly this tokenization so its DuckDB
# oracle replays gram-for-gram)
def word_ngrams(text: Column, n: int) -> Column:
    return _word_ngrams(text, n)


def dup_ngram_permille(text: Column, n: int = 3) -> Column:
    """1000 * duplicated word-n-grams / total n-grams (0 when fewer than
    n tokens): the share of the document that repeats itself."""
    g = _word_ngrams(text, n)
    total = F.size(g)
    dup = total - F.size(F.array_distinct(g))
    return F.when(total == 0, F.lit(0).cast("long")).otherwise(
        F.floor(dup * 1000 / total).cast("long")
    )


def top_ngram_share_permille(text: Column, n: int = 2) -> Column:
    """1000 * occurrences of the most frequent word-n-gram / total
    n-grams — the boilerplate-loop signal (a page that is one phrase
    stamped 50 times scores ~1000).

    Max frequency via sort + ONE aggregate pass tracking the longest
    equal-run, NOT distinct x filter (that shape is O(tokens^2) per row —
    one long document stalls its whole task; and any formulation that
    references a derived array from inside a lambda re-evaluates it per
    element, which is just O(n^2) again).  O(n log n) total, same exact
    integer result; the DuckDB twin uses list_aggregate histogram."""
    g = _word_ngrams(text, n)
    total = F.size(g)
    zero = F.lit(0).cast("long")
    run_of = lambda acc, x: F.when(  # noqa: E731 — shared by both fields
        acc.prev.isNull() | (acc.prev != x), F.lit(1).cast("long")
    ).otherwise(acc.run + 1)
    maxc = F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_of(acc, x).alias("run"),
            F.greatest(acc.best, run_of(acc, x)).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(total == 0, zero).otherwise(
        F.floor(maxc * 1000 / total).cast("long")
    )


def mean_word_len_permille(text: Column) -> Column:
    """1000 * total word chars / word count (Gopher bounds its float
    analog to [3, 10]; permille keeps it hash-exact)."""
    toks = _tokens(F.coalesce(text, F.lit("")))
    cnt = F.size(toks)
    chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return F.when(cnt == 0, F.lit(0).cast("long")).otherwise(
        F.floor(chars * 1000 / cnt).cast("long")
    )


def _sql_word_ngrams(text: str, n: int) -> str:
    # same zip shape as _word_ngrams (list_zip pads the shorter shifts
    # with NULL, || propagates it, the filter drops the tail); numeric
    # struct indexes — list_zip structs are unnamed
    t = _sql_tokens(f"coalesce({text}, '')")
    zips = ", ".join([t] + [f"{t}[{k + 1}:]" for k in range(1, n)])
    joined = " || ' ' || ".join(f"x[{k}]" for k in range(1, n + 1))
    return (
        f"list_filter(list_transform(list_zip({zips}), x -> {joined}), "
        f"y -> y IS NOT NULL)"
    )


def sql_word_ngrams(text: str, n: int) -> str:
    """Public twin of word_ngrams (see the alias above)."""
    return _sql_word_ngrams(text, n)


def sql_dup_ngram_permille(text: str, n: int = 3) -> str:
    g = _sql_word_ngrams(text, n)
    return (
        f"(case when len({g}) = 0 then 0 else "
        f"((len({g}) - len(list_distinct({g}))) * 1000) // len({g}) end)"
    )


def sql_top_ngram_share_permille(text: str, n: int = 2) -> str:
    # O(n) max frequency via the histogram list-aggregate — never
    # distinct x filter (O(n^2)), and never a lambda capturing a derived
    # list (DuckDB re-evaluates the captured expression per element)
    g = _sql_word_ngrams(text, n)
    maxc = f"list_max(map_values(list_aggregate({g}, 'histogram')))"
    return (
        f"(case when len({g}) = 0 then 0 else "
        f"(CAST({maxc} AS BIGINT) * 1000) // len({g}) end)"
    )


def sql_mean_word_len_permille(text: str) -> str:
    t = _sql_tokens(f"coalesce({text}, '')")
    chars = f"list_sum(list_transform({t}, w -> length(w)))"
    return (
        f"(case when len({t}) = 0 then 0 else "
        f"(CAST({chars} AS BIGINT) * 1000) // len({t}) end)"
    )
