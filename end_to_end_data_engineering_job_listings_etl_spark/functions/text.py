"""Text-analysis expressions: tokenization, counts, quality scores,
language ID, fingerprints, token windows and shingle sets.

Beyond-reference operators (training-data-pipeline layer mandated by
BASELINE.json): everything here is pure column expressions over
`documents.text`-shaped columns, so it runs JVM-side at 100 TB with no
Python in the loop.

Three rules, each stated once:

- ``tokens`` is the one tokenizer, and a branch runs it once per
  document. Spark does not share a lambda-bearing expression between
  its uses, so the metrics (``stopword_ratio``, ``mean_word_length``,
  ``quality_score``, ``lang_scores``) read a token array their caller
  projected once instead of tokenizing for themselves. A staged array
  explodes through ``explode_staged``: a plain ``explode`` of a column
  lets the optimizer infer ``size(a) > 0`` below it and push that
  filter through the staging projection, which runs the array's
  definition again. ``tokens_sql`` renders the same tokenizer for the
  DuckDB oracles.
- ``token_windows`` is the one window rule. Every shingle, bigram,
  span and chunk is a run of consecutive tokens cut by it, from
  whichever tokenizer its caller's oracle pins (``tokens``, or a plain
  ``split``). It binds the token array once, so no window re-tokenizes
  its document.
- ``word_shingles`` is the one set rule: a document's distinct k-word
  windows over ``tokens(lower(text))``, read by every set operator.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram-heuristic language ID.
# (Real deployments would swap in fastText/CLD3 via mapInPandas; the
# heuristic is the built-in, dependency-free scale path.)
LANG_MARKERS: Mapping[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "zh": ("的", "是", "了", "在"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def tokens_sql(e: str) -> str:
    """``tokens`` as DuckDB SQL over the expression ``e``: the oracles'
    mirror of the tokenizer."""
    return f"list_filter(string_split_regex(trim({e}), '\\s+'), x -> x != '')"


def explode_staged(
    frame: DataFrame, array: str, alias: str, *keep: Column | str
) -> DataFrame:
    """``frame.select(*keep, explode(array).alias(alias))`` for an array
    column ``frame`` stages (a token array or a set), whose elements
    are never null.

    An ``explode`` of a column makes the optimizer infer
    ``size(array) > 0 AND isnotnull(array)`` below it and push that
    filter through the projection that staged the array, where it runs
    the array's definition a second and third time. ``explode_outer``
    infers nothing; dropping its null element (the row it emits for a
    null or empty array) gives the rows ``explode`` would."""
    return frame.select(*keep, F.explode_outer(array).alias(alias)).filter(
        F.col(alias).isNotNull()
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: word / number runs and individual
    punctuation marks, the way BPE pre-tokenizers segment (RE2-safe
    pattern — no lookarounds — so SQL oracles can share it)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", "")
    return (F.length(c) - F.length(stripped)) / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(
    toks: Column | str, stopwords: Sequence[str] = LANG_MARKERS["en"]
) -> Column:
    """Fraction of a token array's tokens that are stopwords."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def mean_word_length(toks: Column | str) -> Column:
    """Mean character length of a token array's tokens."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str, toks: Column | str) -> Column:
    """Composite [0,1] doc-quality heuristic: length band + low punct +
    sane mean word length. The character terms read the text ``col``,
    the word length its token array ``toks``. Deterministic,
    expression-only."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    mwl = mean_word_length(toks)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return (len_ok + punct_ok + mwl_ok) / 3.0


def lang_scores(toks: Column | str) -> list[Column]:
    """Per-language marker-hit counts (`score_<lang>`) over a token
    array."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    out = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out.append(
            F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t)))).alias(
                f"score_{lang}"
            )
        )
    return out


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of
    whitespace-normalized lowercase text — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized)


def token_windows(
    toks: Column, size: int, stride: int = 1, partial: bool = False
) -> Column:
    """The windows of ``size`` consecutive tokens that start every
    ``stride`` tokens, in order, each joined with one space; repeats
    are kept. Without ``partial`` only full windows count, so fewer
    than ``size`` tokens give the empty array; with it every start
    before the last token counts, and the trailing windows may be
    shorter. A null ``toks`` gives the empty array.

    ``toks`` may be any tokenizer expression: it is bound once as a
    lambda variable, so the tokenizer runs once per document, not once
    per window. The ``sequence`` of starts never descends (Spark would
    index from 0 for a short document); the empty case is the
    ``otherwise`` branch."""

    def cut(t: Column) -> Column:
        last = F.size(t) - (1 if partial else size)
        starts = F.sequence(F.lit(0), F.greatest(last, F.lit(0)), F.lit(stride))
        windows = F.transform(
            starts, lambda i: F.array_join(F.slice(t, i + 1, size), " ")
        )
        return F.when(last >= 0, windows).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(toks), cut)[0]


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """A document's set: its distinct k-word shingles over lower-cased
    whitespace tokens. Every set operator (MinHash, Jaccard,
    containment, decontamination) reads its sets from here; ``k == 1``
    is the distinct token set, ``array_distinct(tokens(lower(col)))``,
    and ``k > 1`` the distinct ``token_windows`` of those tokens.

    A document with fewer than ``k`` tokens, or a null one, has the
    empty set; for ``k == 1`` a null document's set is null. Either
    way it explodes to no rows."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    if k == 1:
        return F.array_distinct(toks)
    return F.array_distinct(token_windows(toks, k))
