"""Text-analysis Column builders for the training-data pipeline tier.

All native ``pyspark.sql.functions`` — no Python in the hot path. Each has an
ANSI-SQL twin in ``__spark_entry__.oracle_sql`` so the driver's DuckDB harness
value-checks them at sf0.01. These are engine additions (the reference
archives pages; a 100 TB corpus pipeline additionally needs language ID,
quality scoring and token accounting over the text columns).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword panels for the n-gram/stopword-hit heuristic
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # romanized placeholder panel
}

_WS = r"\s+"



def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty text -> empty array)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, _WS))


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def bpe_ish_token_count_expr(text: Column) -> Column:
    """Sub-word-ish token estimate: count of letter-runs, digit-runs and
    punctuation marks (a cheap, deterministic BPE stand-in)."""
    runs = F.regexp_replace(text, r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", "#")
    return F.length(runs) - F.length(F.regexp_replace(runs, "#", ""))


def stopword_hits_expr(text: Column, words: tuple[str, ...]) -> Column:
    """How many tokens of ``text`` are in the panel ``words`` (case-insensitive)."""
    toks = tokens_expr(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_guess_expr(text: Column) -> Column:
    """Argmax language by stopword-panel hits; 'und' when all panels miss."""
    entries = [
        F.struct(
            stopword_hits_expr(text, panel).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, panel in sorted(LANG_STOPWORDS.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score_expr(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + word-length sanity +
    punctuation-ratio penalty. Deterministic, SQL-expressible."""
    n = F.length(text).cast("double")
    ntok = token_count_expr(text).cast("double")
    avg_word = F.when(ntok > 0, n / ntok).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(1.0))
    len_ok = F.when((n >= 20) & (n <= 20000), F.lit(0.4)).otherwise(F.lit(0.0))
    word_ok = F.when((avg_word >= 2.5) & (avg_word <= 12), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    return F.round(len_ok + word_ok + punct_ok, 2)


# ---- corpus-curation additions (C4 / Gopher published rules, engine tier) ---------

# C4's line-level cleaning (Raffel et al. 2020 §2.2, public rules): keep
# lines that end in terminal punctuation and have >= 3 words; drop lines
# carrying boilerplate markers. Phrase panel kept to the published examples.
C4_DROP_MARKERS = ("javascript", "cookie", "lorem ipsum", "terms of use", "privacy policy")
_C4_MIN_WORDS = 3
_TERMINAL = ('.', '!', '?', '"', "'")


def _line_ok(line: Column) -> Column:
    t = F.trim(line)
    lower = F.lower(t)
    ends_ok = None
    for p in _TERMINAL:
        e = t.endswith(p)
        ends_ok = e if ends_ok is None else (ends_ok | e)
    words_ok = F.size(F.split(t, _WS)) >= _C4_MIN_WORDS
    marker_hit = None
    for m in C4_DROP_MARKERS:
        h = lower.contains(m)
        marker_hit = h if marker_hit is None else (marker_hit | h)
    return (t != "") & ends_ok & words_ok & ~marker_hit


def c4_clean_cols(text: Column) -> list[Column]:
    """C4 line filter as one native transform: the cleaned text (kept lines
    newline-joined) plus kept/dropped line counts. No Python, no shuffle —
    a per-row projection at any corpus size."""
    lines = F.split(text, r"\n")
    nonempty = F.filter(lines, lambda ln: F.trim(ln) != "")
    kept = F.filter(lines, _line_ok)
    return [
        F.array_join(F.transform(kept, lambda ln: F.trim(ln)), "\n").alias("clean_text"),
        F.size(kept).alias("kept_lines"),
        (F.size(nonempty) - F.size(kept)).alias("dropped_lines"),
    ]


def gopher_repetition_cols(text: Column) -> list[Column]:
    """Gopher repetition signals (Rae et al. 2021 §A1.1, public thresholds)
    as exact integer counts — fractions are left to the caller so no float
    crosses the correctness gate:

    * ``total_lines`` / ``distinct_lines`` — duplicate-line fraction is
      ``1 - distinct/total``;
    * ``dup_line_chars`` — characters in lines occurring >= 2 times (the
      'fraction of characters in duplicated lines' numerator; all
      occurrences counted) vs ``total_chars``;
    * ``top_bigram`` / ``top_bigram_count`` — the most frequent word
      2-gram, ties broken lexicographically (deterministic both engines).

    Native higher-order functions over the line/word arrays, zero shuffles,
    zero Python. The line-level passes are aggregate-with-filter per
    distinct element — O(L^2) comparisons per DOCUMENT, fine because lines
    per doc are bounded. The bigram pass must NOT be quadratic (a single
    10k-word document would be 10^8 comparisons — ADVICE r5): instead the
    gram array is ``array_sort``-ed once (O(W log W) per doc) and a single
    ``aggregate`` fold finds the longest run of equal adjacent grams —
    O(W), exact over the FULL word stream, and because the array is sorted
    a strict ``>`` on run-length updates yields the lexicographically
    smallest gram on count ties for free."""
    lines = F.filter(F.split(text, r"\n"), lambda ln: F.trim(ln) != "")
    tlines = F.transform(lines, lambda ln: F.trim(ln))
    dlines = F.array_distinct(tlines)
    # chars in lines whose occurrence count >= 2 (each occurrence counted):
    # same sorted run-length fold as the bigram pass — when a run reaches 2
    # both occurrences' chars are added retroactively, each further repeat
    # adds one line's chars. O(L log L), and `tlines` never appears inside
    # a lambda (it would be recomputed per element — no CSE in HOFs).
    dzero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("long").alias("tot"),
    )
    dup_chars = F.aggregate(
        F.array_sort(tlines),
        dzero,
        lambda acc, ln: F.struct(
            ln.alias("prev"),
            F.when(acc["prev"].isNotNull() & (ln == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            (
                acc["tot"]
                + F.when(
                    F.when(
                        acc["prev"].isNotNull() & (ln == acc["prev"]), acc["run"] + 1
                    ).otherwise(F.lit(1))
                    == 2,
                    F.length(ln).cast("long") * 2,
                )
                .when(
                    F.when(
                        acc["prev"].isNotNull() & (ln == acc["prev"]), acc["run"] + 1
                    ).otherwise(F.lit(1))
                    > 2,
                    F.length(ln).cast("long"),
                )
                .otherwise(F.lit(0).cast("long"))
            ).alias("tot"),
        ),
    )["tot"]
    # split keeps empty fragments at text boundaries (and F.trim strips
    # spaces only, not newlines) — filter them out of the word stream
    words = F.filter(F.split(text, _WS), lambda w: w != "")
    n = F.size(words)
    # Adjacent-pair grams via zip_with over two slices. CRITICAL: `words`
    # (an O(W) split+filter of the whole document) must never appear INSIDE
    # a per-element lambda — no CSE inside HOF lambdas means it would be
    # recomputed per element, turning the pass quadratic (the r5 ADVICE
    # stall). As plain array arguments the slices are evaluated once.
    grams = F.when(n >= 2, F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )).otherwise(F.array().cast("array<string>"))
    # Longest run of equal adjacent grams over the SORTED gram array.
    # Fold state: (prev gram, current run length, best run length, best
    # gram). Strict > on the best-update means the FIRST gram to reach a
    # given run length wins — sorted order makes that the lexicographically
    # smallest among count ties. The run-length condition is repeated
    # inline rather than bound to a local (no CSE inside HOF lambdas, but
    # it is a single string equality — cheaper than a second pass).
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(None).cast("string").alias("bestg"),
    )
    best = F.aggregate(
        F.array_sort(grams),
        zero,
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(acc["prev"].isNotNull() & (g == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.when(
                F.when(acc["prev"].isNotNull() & (g == acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1))
                > acc["best"],
                F.when(acc["prev"].isNotNull() & (g == acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1)),
            )
            .otherwise(acc["best"])
            .alias("best"),
            F.when(
                F.when(acc["prev"].isNotNull() & (g == acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1))
                > acc["best"],
                g,
            )
            .otherwise(acc["bestg"])
            .alias("bestg"),
        ),
    )
    return [
        F.size(tlines).alias("total_lines"),
        F.size(dlines).alias("distinct_lines"),
        dup_chars.cast("long").alias("dup_line_chars"),
        F.length(F.array_join(tlines, "")).cast("long").alias("total_line_chars"),
        best["bestg"].alias("top_bigram"),
        best["best"].alias("top_bigram_count"),
    ]
