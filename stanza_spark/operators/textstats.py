"""Text-analysis operators for training-data curation: heuristic language
ID (stopword voting, the shape of the reference's langid processor,
/root/reference/stanza/pipeline/langid_processor.py:84-111, with the
char-BiLSTM swapped for a deterministic lexicon vote), quality scoring,
token counting (whitespace + the RE tokenizer), and k-min-hash document
fingerprints (winnowing-style containment sketch).

All pure Spark SQL — each is one narrow projection + at most one aggregation.
Every operator reads a frame with ``doc_id`` and ``text`` columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import vocab as V


# The reference's tweet-cleanup pass before language id
# (/root/reference/stanza/pipeline/langid_processor.py:60-64): shortened
# urls, @handles, #hashtags and !./ runs are blanked so they cannot vote.
# The emoji strip (langid_processor.py:76-77) uses the `emoji` package
# there; here it is a codepoint-range class (Misc Symbols, Dingbats,
# Mahjong..Symbols-Ext incl. all emoji blocks, variation selector FE0F,
# ZWJ, Misc-Symbols-and-Arrows hearts) — `\x{...}` is valid in BOTH
# java.util.regex and RE2 so the DuckDB oracle applies the identical
# chain.  All five patterns are RE2+Java-safe.
LANGID_CLEANUP_RES = [
    r"https?://t\.co/[a-zA-Z0-9]+",
    r"@[a-zA-Z0-9_]+",
    r"#[a-zA-Z]+",
    r"[!.]+",
    (r"[\x{2600}-\x{27BF}\x{FE0F}\x{200D}\x{2B00}-\x{2BFF}"
     r"\x{1F000}-\x{1FAFF}]+"),
]


def langid_clean_expr(col):
    for pat in LANGID_CLEANUP_RES:
        col = F.regexp_replace(col, pat, " ")
    return col


def langid(df: DataFrame, spark: SparkSession) -> DataFrame:
    """-> (doc_id, lang_pred, score): argmax stopword-hit count per
    language over the cleaned text; ties lexicographic; no hits -> 'und'.

    Physical shape (r7, guide §2.4 "remove shuffles outright"): the
    stopword vote is ONE narrow projection — per-language hit counts are
    higher-order array filters over the token array (the stopword lists
    are ~10 words/language of static code data, folded into the
    expression), the argmax is ``array_max`` + first-position lookup (ties
    resolve to the lexicographically first language because the count
    array is built in sorted language order).  The old plan exploded every
    token (corpus x tokens rows), broadcast-joined the stopword table and
    re-aggregated through two hash exchanges plus a distinct and a window;
    at 100 TB that shuffles the whole tokenized corpus twice for a
    per-document label.  Zero exchanges now; identical output (one row per
    input row — every gated caller keys rows by a unique document id)."""
    langs = sorted(V.STOPWORDS)
    words = F.split(F.lower(langid_clean_expr(F.col("text"))),
                    "[^\\p{L}]+")
    def _hits(ws):
        return F.size(F.filter(words, lambda w: w.isin(*ws)))

    counts = F.array(*[_hits(tuple(sorted(V.STOPWORDS[l])))
                       for l in langs])
    lang_arr = F.array(*[F.lit(l) for l in langs])
    best = F.array_max(counts)
    return df.select(
        "doc_id",
        F.when(best > 0,
               F.element_at(lang_arr, F.array_position(counts, best)
                            .cast("int")))
        .otherwise(F.lit("und")).alias("lang_pred"),
        F.coalesce(best.cast("long"), F.lit(0).cast("long")).alias("score"),
    )


def quality_scores(df: DataFrame, spark: SparkSession) -> DataFrame:
    """-> per-doc curation features: char/token counts, mean token length,
    alpha & stopword ratios, and a coarse quality bucket."""
    en_stop = sorted(V.STOPWORDS["en"])
    words = F.split(F.col("text"), V.WS_SPLIT_RE)
    toks = df.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        words.alias("words"),
    ).select(
        "doc_id", "n_chars",
        F.size("words").alias("n_tokens"),
        F.round(F.aggregate(F.transform(F.col("words"),
                                        lambda w: F.length(w).cast("double")),
                            F.lit(0.0), lambda a, v: a + v)
                / F.greatest(F.size("words"), F.lit(1)), 6).alias("mean_token_len"),
        F.round(
            F.size(F.filter(F.col("words"),
                            lambda w: w.rlike("^[A-Za-z]+$")))
            / F.greatest(F.size("words"), F.lit(1)).cast("double"), 6
        ).alias("alpha_ratio"),
        F.round(
            F.size(F.filter(F.col("words"),
                            lambda w: F.lower(w).isin(en_stop)))
            / F.greatest(F.size("words"), F.lit(1)).cast("double"), 6
        ).alias("stopword_ratio"),
    )
    return toks.withColumn(
        "quality_bucket",
        F.when((F.col("n_tokens") >= 20) & (F.col("alpha_ratio") >= 0.8)
               & (F.col("stopword_ratio") >= 0.05), "high")
        .when(F.col("n_tokens") >= 10, "medium")
        .otherwise("low"),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, the
    standard web-corpus quality gates): per document,

    * ``dup_line_frac``       — fraction of non-empty lines that repeat an
                                earlier line (1 - distinct/total);
    * ``dup_line_char_frac``  — fraction of line characters contained in
                                those repeats (total - distinct chars,
                                over total — i.e. every occurrence beyond
                                a line's first);
    * ``top_bigram_frac``     — occurrences of the most frequent word
                                2-gram over all 2-gram slots (catches
                                'click here click here ...' boilerplate
                                a line-level rule misses).

    Line metrics are pure higher-order array expressions (no shuffle);
    the bigram mode runs explode -> groupBy(doc, gram) -> max — two
    algebraic aggregates keyed by document, so map-side partials absorb
    repetitive docs and no key can exceed one document's slots.  Both
    reproduce bit-for-bit in DuckDB (tests/test_textstats_repetition.py)."""
    lines = F.filter(F.split(F.col("text"), "\n"),
                     lambda l: l != F.lit(""))
    base = df.select(
        "doc_id",
        lines.alias("lines"),
        F.split(F.col("text"), V.WS_SPLIT_RE).alias("words"),
    ).select(
        "doc_id", "words",
        F.size("lines").alias("n_lines"),
        F.size(F.array_distinct("lines")).alias("n_distinct_lines"),
        F.aggregate(F.transform("lines", lambda l: F.length(l).cast("long")),
                    F.lit(0).cast("long"), lambda a, v: a + v)
        .alias("line_chars"),
        F.aggregate(F.transform(F.array_distinct("lines"),
                                lambda l: F.length(l).cast("long")),
                    F.lit(0).cast("long"), lambda a, v: a + v)
        .alias("distinct_line_chars"),
    )
    grams = base.select(
        "doc_id",
        F.explode(F.when(
            F.size("words") >= 2,
            F.transform(F.sequence(F.lit(0), F.size("words") - 2),
                        lambda i: F.concat_ws(
                            " ", F.element_at("words", i + 1),
                            F.element_at("words", i + 2)))
        ).otherwise(F.array())).alias("gram"))
    top = (grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("doc_id").agg(F.max("c").alias("top_c"),
                                  F.sum("c").alias("n_bigrams")))
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id", "n_lines",
            F.round((F.col("n_lines") - F.col("n_distinct_lines"))
                    / F.greatest("n_lines", F.lit(1)).cast("double"), 6)
            .alias("dup_line_frac"),
            F.round((F.col("line_chars") - F.col("distinct_line_chars"))
                    / F.greatest("line_chars", F.lit(1)).cast("double"), 6)
            .alias("dup_line_char_frac"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round(F.coalesce(F.col("top_c"), F.lit(0))
                    / F.greatest(F.coalesce("n_bigrams", F.lit(0)),
                                 F.lit(1)).cast("double"), 6)
            .alias("top_bigram_frac"),
        )
    )


def token_counts(df: DataFrame) -> DataFrame:
    """-> (doc_id, n_ws_tokens, n_re_tokens): whitespace split vs the
    BPE-ish RE tokenizer (vocab.TOKEN_RE)."""
    return df.select(
        "doc_id",
        F.size(F.split(F.col("text"), V.WS_SPLIT_RE)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(V.TOKEN_RE), 0))
         .alias("n_re_tokens"),
    )


def redact(df: DataFrame) -> DataFrame:
    """Training-data PII hygiene pass: mask emails then URLs with typed
    placeholder tokens (emails FIRST — their domain tails would otherwise
    re-match the bare-domain URL form).  The regexes are the cross-engine
    tokenizer classes (vocab.URL_RE / EMAIL_RE, the RE2+Java-safe ports of
    the reference's MASK_RE, tokenization/utils.py:199-205), so the DuckDB
    oracle applies the identical chain.  One narrow projection — nothing
    shuffles.

    -> (doc_id, redacted, n_emails, n_urls)."""
    text = F.col("text")
    n_emails = F.size(F.regexp_extract_all(text, F.lit(V.EMAIL_RE), 0))
    masked_email = F.regexp_replace(text, V.EMAIL_RE, "<EMAIL>")
    n_urls = F.size(F.regexp_extract_all(masked_email, F.lit(V.URL_RE), 0))
    redacted = F.regexp_replace(masked_email, V.URL_RE, "<URL>")
    return df.select(
        "doc_id",
        redacted.alias("redacted"),
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"))


REP_DUPLINE_T = 0.3  # duplicate-line fraction that marks a doc repetitive


def curation_flags(df: DataFrame, spark: SparkSession,
                   rep_bigram_t: float = 0.15) -> DataFrame:
    """The composite corpus-curation decision a training-data pipeline
    applies per document: drop exact duplicates (keep first), drop
    documents whose predicted language isn't English, drop low-quality
    documents, drop repetitive documents (Gopher-style: top-bigram mass
    >= ``rep_bigram_t`` or duplicate-line fraction >= ``REP_DUPLINE_T``)
    — in that precedence; survivors get reason 'ok'.

    -> (doc_id, reason in {duplicate, lang, quality, repetition, ok}, keep).

    Shape: three corpus passes (digest window, stopword-vote aggregate,
    narrow quality projection) joined back on the document key — each
    pass is one of the already-gated primitives, so the composite is
    exactly as scale-safe as its parts; the doc_id joins are co-located
    once the corpus is bucketed by document key (plans/pipeline.py)."""
    from .dedup import exact_dedup

    uniq = exact_dedup(df).select("doc_id", F.col("keep").alias("uniq"))
    lp = langid(df, spark).select("doc_id", "lang_pred")
    qb = quality_scores(df, spark).select("doc_id", "quality_bucket")
    rep = repetition_signals(df) \
        .select("doc_id", "dup_line_frac", "top_bigram_frac")
    j = uniq.join(lp, "doc_id").join(qb, "doc_id").join(rep, "doc_id")
    reason = (
        F.when(~F.col("uniq"), F.lit("duplicate"))
        .when(F.col("lang_pred") != "en", F.lit("lang"))
        .when(F.col("quality_bucket") == "low", F.lit("quality"))
        .when((F.col("top_bigram_frac") >= rep_bigram_t)
              | (F.col("dup_line_frac") >= REP_DUPLINE_T),
              F.lit("repetition"))
        .otherwise(F.lit("ok")))
    return j.select(
        "doc_id", reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"))


def fingerprints(df: DataFrame) -> DataFrame:
    """-> (doc_id, fingerprint): the 4 smallest md5 shingle digests joined
    — a containment sketch usable as a cheap near-dup blocking key."""
    from .dedup import shingles
    sh = shingles(df)
    return (
        sh.withColumn("d", F.md5("shingle"))
        .groupBy("doc_id")
        .agg(F.array_join(
            F.slice(F.array_sort(F.collect_set("d")), 1, 4), "|"
        ).alias("fingerprint"))
    )
