"""Text signature functions (SURVEY.md §2.A A4 — bdqc
lib/BDQC/FileSignature/Text.pm computes per-file line counts, length
stats, and character-class composition; here the same statistics per
*transcript/document row*, as pure Catalyst column expressions so
they run JVM-side inside whole-stage codegen, never in Python).

Every expression uses explicit ASCII character classes ([A-Za-z],
[0-9]) rather than \\w / \\d so the DuckDB (RE2) oracle and Spark
(Java regex) agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}<>@#$%^&*+=/\\|~`_-]"


def n_chars(c: Column) -> Column:
    return F.length(c)


def n_tokens(c: Column) -> Column:
    """Whitespace-delimited token count (token = maximal non-space run).
    NULL in, NULL out: a NULL text has no count, not a count of 0.

    regexp_count, not size(regexp_extract_all): identical match count
    (same regex, same engine) without materializing an array of all
    token substrings per row — this expression runs once per document
    AND once per clip transcript in the pipeline's profile stage."""
    return F.regexp_count(c, F.lit(r"[^ \t\n\r]+"))


def n_alpha(c: Column) -> Column:
    return F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))


def n_digit(c: Column) -> Column:
    return F.length(F.regexp_replace(c, r"[^0-9]", ""))


def n_space(c: Column) -> Column:
    return F.length(F.regexp_replace(c, r"[^ \t\n\r]", ""))


def n_punct(c: Column) -> Column:
    return F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))


def frac(numer: Column, c: Column) -> Column:
    """Fraction of total chars; 0.0 for empty strings (not null)."""
    return F.when(F.length(c) > 0, numer.cast("double") / F.length(c)).otherwise(F.lit(0.0))


def max_run_len(c: Column) -> Column:
    """Longest run of a single repeated character — gibberish signal.

    aggregate over the char array: carry (prev_char, run, best).
    JVM-side higher-order function — no UDF.
    """
    chars = F.split(c, "")
    init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best"))
    step = lambda acc, ch: F.struct(  # noqa: E731
        ch.alias("prev"),
        F.when(ch == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
        F.greatest(
            acc["best"], F.when(ch == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        ).alias("best"),
    )
    return F.aggregate(chars, init, step, lambda acc: acc["best"])


def token_count_bpe_ish(c: Column) -> Column:
    """BPE-ish token estimate: words + digits + punctuation marks each
    count as tokens; long words count extra per 4 chars (a crude but
    deterministic proxy for subword splits). Training-data budgeting
    signal (tokens-per-doc histograms at corpus scale)."""
    words = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+"), F.lit(0))
    word_tokens = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.greatest(F.lit(1), F.ceil(F.length(w) / F.lit(4)).cast("int")),
    )
    other = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]+|" + PUNCT_CLASS), F.lit(0)))
    return word_tokens + other


def quality_score(c: Column) -> Column:
    """Heuristic doc-quality score in [0,1] (Gopher/C4-style signals,
    SQL-expressible so the DuckDB oracle can verify it):
    penalize too-short/too-long, low alpha fraction, high digit or
    punct fraction, and word-repetition (low distinct-token ratio).
    """
    nt = n_tokens(c)
    fa = frac(n_alpha(c), c)
    fd = frac(n_digit(c), c)
    fp = frac(n_punct(c), c)
    toks = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+"), F.lit(0))
    distinct_ratio = F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    ).otherwise(F.lit(0.0))
    len_ok = F.when((nt >= 5) & (nt <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * F.least(F.lit(1.0), fa / F.lit(0.6))
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.lit(1.0), fd / F.lit(0.3)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(F.lit(1.0), fp / F.lit(0.3)))
        + F.lit(0.2) * distinct_ratio
    )
    return F.round(score, 6)


def word_ngram_array(c: Column, n: int) -> Column:
    """All word n-grams of the lowercased text as `a b c` strings.
    1-indexed slice so the DuckDB oracle (`w[i] || ' ' || w[i+1]`)
    produces byte-identical grams. Empty array when the text has
    fewer than n words (Spark's `sequence` would otherwise count
    DOWN for stop < start)."""
    words = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+"), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _run_length_fold(arr: Column, finish) -> Column:
    """Fold a SORTED string array with a (prev, run, best, dup) carry:
    `run` is the current equal-element run length, `best` the max of
    run*len(elem) seen so far (char coverage of the most frequent
    element), `dup` the running sum of count*len(elem) over elements
    whose count reaches >=2 (char coverage of duplicated elements —
    when a run hits 2 both occurrences are charged, then one per
    further repeat). Pure JVM higher-order function: per-row
    repetition stats without any shuffle — the property that lets the
    Gopher-style signals run inside the scan stage at corpus scale."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("dup"),
    )

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run * F.length(g)).alias("best"),
            (
                acc["dup"]
                + F.when(run == 2, F.lit(2) * F.length(g))
                .when(run > 2, F.length(g))
                .otherwise(F.lit(0))
            ).alias("dup"),
        )

    return F.aggregate(arr, init, step, finish)


def top_ngram_char_cover(c: Column, n: int) -> Column:
    """Characters covered by the most frequent word n-gram:
    max over distinct n-grams of count * length(gram). Gopher-style
    repetition signal (Rae et al. 2021, 'top n-gram fraction')."""
    return _run_length_fold(
        F.array_sort(word_ngram_array(c, n)), lambda acc: acc["best"]
    )


def dup_ngram_char_cover(c: Column, n: int) -> Column:
    """Characters covered by word n-grams occurring more than once:
    sum over n-grams with count >= 2 of count * length(gram)
    (Gopher-style 'duplicate n-gram fraction' numerator)."""
    return _run_length_fold(
        F.array_sort(word_ngram_array(c, n)), lambda acc: acc["dup"]
    )


def dup_line_frac(c: Column) -> Column:
    """Fraction of newline-delimited lines that are repeats of an
    earlier line (0.0 for empty/one-line text). Gopher 'duplicate
    line fraction'; degenerate on single-line corpora but real for
    multi-line transcripts/documents."""
    lines = F.filter(F.split(c, r"\n"), lambda x: F.length(x) > 0)
    return F.when(
        F.size(lines) > 0,
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
        / F.size(lines),
    ).otherwise(F.lit(0.0))


def repetition_struct(c: Column) -> Column:
    """Gopher-style repetition signals as one struct column, each
    normalized by total chars: top-{2,3}-gram char coverage and
    duplicated-5-gram char coverage, plus the duplicate-line
    fraction. All pure Catalyst (sort + fold over per-row arrays,
    no shuffle, no Python)."""
    nc = F.length(c)

    def _frac(cover: Column) -> Column:
        return F.round(
            F.when(nc > 0, cover.cast("double") / nc).otherwise(F.lit(0.0)), 6
        )

    return F.struct(
        _frac(top_ngram_char_cover(c, 2)).alias("top_bigram_char_frac"),
        _frac(top_ngram_char_cover(c, 3)).alias("top_trigram_char_frac"),
        _frac(dup_ngram_char_cover(c, 5)).alias("dup_5gram_char_frac"),
        F.round(dup_line_frac(c), 6).alias("dup_line_frac"),
    )


# Gopher rule-table stopword list (Rae et al. 2021 Table A1 uses
# "the, be, to, of, and, that, have, with"; we add "a, in" so the
# rule is meaningful on short transcripts too). Lowercased exact
# word match — deterministic and SQL-expressible.
GOPHER_STOPWORDS = ["the", "a", "of", "to", "and", "in", "be", "have", "that", "with"]


def gopher_rules(c: Column) -> Column:
    """The Gopher heuristic quality-rule table (Rae et al. 2021,
    'Scaling Language Models', Table A1) as one pure-Catalyst struct —
    the canonical pre-training quality filter alongside C4. Per doc:

    - word count in [50, 100000]           (gr_word_count)
    - mean word length in [3, 10]          (gr_mean_word_len)
    - >= 80% of words contain a letter     (gr_alpha_words)
    - symbol-to-word ratio (# / ...) <= .1 (gr_symbol_ratio)
    - >= 2 distinct stopwords present      (gr_stopwords)

    All signals are per-row array folds / filters (JVM higher-order
    functions, zero Python, zero shuffle): at 100 TB this entire rule
    table evaluates inside the scan stage. Returns a struct with the
    raw signals, the failed-rule list (comma-joined — registry rows
    must stay scalar), and the keep verdict."""
    words = F.regexp_extract_all(c, F.lit(r"[^ \t\n\r]+"), F.lit(0))
    nw = F.size(words)
    total_wlen = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    mwl = F.when(nw > 0, total_wlen.cast("double") / nw).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(nw > 0, alpha_words.cast("double") / nw).otherwise(F.lit(0.0))
    n_symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), F.lit(0)))
    symbol_ratio = F.when(nw > 0, n_symbols.cast("double") / nw).otherwise(F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_types = F.size(
        F.array_distinct(
            F.filter(F.transform(words, F.lower), lambda w: F.array_contains(stops, w))
        )
    )
    fails = F.array_compact(
        F.array(
            F.when((nw < 50) | (nw > 100000), F.lit("gr_word_count")),
            F.when((mwl < 3.0) | (mwl > 10.0), F.lit("gr_mean_word_len")),
            F.when(alpha_frac < 0.8, F.lit("gr_alpha_words")),
            F.when(symbol_ratio > 0.1, F.lit("gr_symbol_ratio")),
            F.when(stop_types < 2, F.lit("gr_stopwords")),
        )
    )
    return F.struct(
        nw.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        stop_types.alias("n_stop_types"),
        F.array_join(fails, ",").alias("fail_rules"),
        (F.size(fails) == 0).alias("keep"),
    )


C4_MIN_SENT_WORDS = 5
C4_MIN_SENTENCES = 3


def c4_rules(c: Column) -> Column:
    """The C4 cleaning rules (Raffel et al. 2020 "Exploring the Limits
    of Transfer Learning", §2.2) as one pure-Catalyst struct — the
    other canonical pre-training filter next to ``gopher_rules``, and
    unlike Gopher it REWRITES the page (line-level filtering) rather
    than just gating it. Sentence = maximal segment ending in terminal
    punctuation (``[.!?]``); a trailing un-terminated fragment simply
    never matches, which IS the paper's "retain only lines ending in
    terminal punctuation" rule. Then:

    - keep sentences with >= 5 words and no "javascript"  (line level)
    - page keeps iff >= 3 surviving sentences, no "{" and
      no "lorem ipsum" anywhere                           (page level)

    → struct(n_sentences, n_kept_sentences, c4_keep, text_c4) where
    ``text_c4`` is the surviving sentences re-joined (empty when the
    page is dropped). All signals are per-row regex extractions and
    array filters — zero Python, zero shuffle; at 100 TB the rewrite
    happens inside the scan stage."""
    sents = F.transform(
        F.regexp_extract_all(c, F.lit(r"[^.!?]+[.!?]"), F.lit(0)),
        # NB: not bare F.trim — transform feeds (element, index) to a
        # two-arg callable and trim's optional second arg is trimStr
        lambda s: F.trim(s),
    )
    kept = F.filter(
        sents,
        lambda s: (F.size(F.split(s, r"\s+")) >= C4_MIN_SENT_WORDS)
        & ~F.contains(F.lower(s), F.lit("javascript")),
    )
    page_ok = (
        (F.size(kept) >= C4_MIN_SENTENCES)
        & ~F.contains(c, F.lit("{"))
        & ~F.contains(F.lower(c), F.lit("lorem ipsum"))
    )
    return F.struct(
        F.size(sents).alias("n_sentences"),
        F.size(kept).alias("n_kept_sentences"),
        page_ok.alias("c4_keep"),
        F.when(page_ok, F.array_join(kept, " ")).otherwise(F.lit("")).alias("text_c4"),
    )


def normalized(c: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse
    whitespace, strip punctuation."""
    x = F.lower(c)
    x = F.regexp_replace(x, PUNCT_CLASS, "")
    x = F.trim(F.regexp_replace(x, r"[ \t\n\r]+", " "))
    return x


def fingerprint(c: Column) -> Column:
    """64-bit content fingerprint of the normalized text. At corpus
    scale, dedup shuffles this 8-byte key instead of full documents."""
    return F.xxhash64(normalized(c))


def profile_struct(c: Column) -> Column:
    """The full per-row text signature as one struct column —
    the engine's analogue of bdqc's per-file Text signature map."""
    return F.struct(
        n_chars(c).alias("n_chars"),
        n_tokens(c).alias("n_tokens"),
        frac(n_alpha(c), c).alias("frac_alpha"),
        frac(n_digit(c), c).alias("frac_digit"),
        frac(n_punct(c), c).alias("frac_punct"),
        frac(n_space(c), c).alias("frac_space"),
        max_run_len(c).alias("max_run"),
        quality_score(c).alias("quality"),
    )
