"""Text-analysis functions for a training-data pipeline over the crawl's
extracted text: language-ID, quality scoring, token counting, document
fingerprinting. All JVM-native column expressions (zero Python) so they run
inside whole-stage codegen at 100 TB scale; each has an exact ANSI-SQL twin
in plans/queries.py for the DuckDB oracle.

The reference stores feed-provided text verbatim [PK]; these operators are
the scale-path additions a web-text corpus needs downstream of extraction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are sentence punctuation. Exact integer
    arithmetic then one double division → bit-stable across engines."""
    stripped = F.regexp_replace(text, r"[.,!?;:]", "")
    return (F.length(text) - F.length(stripped)).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    ).cast("double")


def stopword_hits(text: Column) -> Column:
    """Occurrences of ' the ' (surrounded by spaces) — a deliberately simple
    exact-counting quality signal; (len - len(replace))/len(' the ')."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(" the "), F.lit(""))))
        / F.lit(5)
    ).cast("int")


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality score: long enough, low punctuation,
    has stopwords. Pure exact arithmetic (ints + one division per term)."""
    length_term = F.least(F.length(text).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(
        punct_ratio(text) * F.lit(10.0), F.lit(1.0)
    )
    stop_term = F.least(
        stopword_hits(text).cast("double") / F.lit(5.0), F.lit(1.0)
    )
    return (length_term + punct_term + stop_term) / F.lit(3.0)


def lang_id(text: Column) -> Column:
    """Rule-based language ID over marker tokens, first-match-wins so the
    CASE order is the spec (identical in the SQL twin)."""
    return (
        F.when(text.rlike("[一-鿿]"), F.lit("zh"))
        .when(text.rlike(" (el|la|los|las|una) "), F.lit("es"))
        .when(text.rlike(" (der|die|und|nicht) "), F.lit("de"))
        .otherwise(F.lit("en"))
    )


def normalize_ws(text: Column) -> Column:
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized, lowercased
    text. Stable across engines (md5 over UTF-8 bytes)."""
    return F.md5(F.encode(F.lower(normalize_ws(text)), "UTF-8"))


def repetition_stats(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition quality signals per document (the filters a
    large-scale LLM-pretraining pipeline applies before training — Rae et
    al. 2021, "Scaling Language Models" §A1.1, public paper):

      dup_word_frac   1 - |distinct words| / |words|   (word-level repeat
                      mass; computed NARROW via array_distinct, no shuffle)
      top_bigram_frac occurrences of the most frequent word bigram /
                      total bigram occurrences (boilerplate/spam signal;
                      one explode + two-level aggregation — the shuffle
                      carries (doc, bigram) partial counts, map-combined)

    Output: (id_col, n_words, dup_word_frac, top_bigram_frac); documents
    with < 2 words get top_bigram_frac 0. Exactness: both fractions are
    single divisions of exact integer counts, so the DuckDB oracle hashes
    identically."""
    from pyspark.sql import DataFrame  # noqa: F401

    words = F.split(F.lower(normalize_ws(F.col(text_col))), " ")
    base = docs.select(
        F.col(id_col),
        words.alias("ws"),
        F.size(words).alias("n_words"),
    )
    narrow = base.select(
        id_col,
        "ws",
        "n_words",
        (
            1.0
            - F.size(F.array_distinct(F.col("ws"))).cast("double")
            / F.col("n_words").cast("double")
        ).alias("dup_word_frac"),
    )
    # sequence(1, 0) would DESCEND in Spark, so single-word docs must short
    # to an empty array (explode then drops the row; the left join restores
    # it with top_bigram_frac 0)
    bigram_arr = F.when(
        F.col("n_words") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.col("n_words") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ws"), i),
                F.element_at(F.col("ws"), i + 1),
            ),
        ),
    ).otherwise(F.array())
    bigrams = narrow.select(id_col, F.explode(bigram_arr).alias("bg"))
    top = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (
                F.max("c").cast("double") / F.sum("c").cast("double")
            ).alias("top_bigram_frac")
        )
    )
    return (
        narrow.drop("ws")
        .join(top, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.round(F.col("dup_word_frac"), 9).alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)), 9
            ).alias("top_bigram_frac"),
        )
    )


BPE_PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count via a BPE-style pre-tokenizer regex
    (letter runs | digit runs | single non-alnum over the whitespace-
    normalized text), the shape GPT-2-family tokenizers split on before
    merges. Pure JVM regexp — the identical pattern runs in the DuckDB
    oracle."""
    return F.size(
        F.regexp_extract_all(
            normalize_ws(text), F.lit(BPE_PRETOKEN_RE), F.lit(0)
        )
    )


def rare_word_stats(docs, rare_max_count: int = 2, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-frequency quality signal (the LM-scoring dataflow shape with
    EXACT arithmetic): build the corpus unigram frequency table once
    (token-stream groupBy — map-side combined), join it back to each
    document's token stream, and report per doc the fraction of tokens
    whose corpus frequency ≤ rare_max_count (OOV/rare mass — high values
    flag gibberish or mojibake; the quality filters of large pretraining
    pipelines threshold on exactly this family of signals).

    Exactness: counts are integers and the fraction is one division, so
    the DuckDB oracle hashes identically — unlike avg-log-prob scoring,
    which this deliberately replaces (fp summation order is not
    reproducible across engines).

    Output: (id_col, n_tokens, rare_frac). Scale: two shuffles — the
    vocab aggregation and the doc re-aggregation; the vocab join is a
    plain equi-join on the token, partitionable at any corpus size."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(normalize_ws(F.col(text_col))), " ")
        ).alias("word"),
    ).filter(F.length("word") > 0)
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cf"))
    return (
        toks.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("cf") <= rare_max_count, 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("rare_frac"),
        )
    )


def c4_quality_filter(
    docs, id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":  # noqa: F821 - DataFrame type for doc only
    """C4-style page/line quality filtering (Raffel et al. 2020 §2.2,
    public: the "Colossal Clean Crawled Corpus" heuristics), JVM-native —
    zero Python in the data path:

    line level (a line = '\\n' segment):
      - keep only lines that end in terminal punctuation (. ! ? ");
      - keep only lines with >= 5 words;
      - drop any line containing the word 'javascript';
    page level:
      - drop pages containing '{' (code), or 'lorem ipsum';
      - drop pages with fewer than 3 surviving lines.

    Output: (id_col, n_lines, n_kept, kept_text, doc_kept, drop_reason)
    with drop_reason in ('brace','lorem_ipsum','too_few_sentences', NULL)
    checked in that order (first match wins, mirroring the paper's filter
    sequence). kept_text re-joins surviving lines with '\\n'.

    Scale: pure narrow map over whole-stage-codegen'd array expressions —
    no shuffle, no UDF; at 100 TB this runs at scan speed and composes
    with any downstream dedup/tokenize stage."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda ln: (
            (F.size(F.split(F.trim(ln), " ")) >= 5)
            & F.trim(ln).rlike('[.!?"]$')
            & ~F.lower(ln).contains("javascript")
        ),
    )
    low = F.lower(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("kept_text"),
        F.when(low.contains("{"), "brace")
        .when(low.contains("lorem ipsum"), "lorem_ipsum")
        .when(F.size(kept) < 3, "too_few_sentences")
        .alias("drop_reason"),
    ).withColumn("doc_kept", F.col("drop_reason").isNull())


# PII patterns (round 3): the standard pre-training scrub (cf. the
# BigScience ROOTS / CCNet pipelines, public). Patterns are deliberately
# written in the common subset of Java regex (Spark) and RE2 (DuckDB
# oracle) — no backrefs, no lookaround — so the oracle can mirror them
# verbatim.
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}-\d{3}-\d{4}"


def pii_scrub(
    docs, id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":  # noqa: F821
    """Redact emails / IPv4s / phone numbers, keeping per-doc counts:
    (id, scrubbed, n_emails, n_ips, n_phones, had_pii). JVM regexp only —
    narrow map, runs at scan speed; replacement order is fixed (email,
    ip, phone) and the count is taken BEFORE its replacement so later
    rules can't eat earlier matches' evidence."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
    t1 = F.regexp_replace(t, PII_EMAIL, "[EMAIL]")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), F.lit(0)))
    t2 = F.regexp_replace(t1, PII_IPV4, "[IP]")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), F.lit(0)))
    t3 = F.regexp_replace(t2, PII_PHONE, "[PHONE]")
    return docs.select(
        F.col(id_col),
        t3.alias("scrubbed"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        ((n_emails + n_ips + n_phones) > 0).alias("had_pii"),
    )


def term_weight_milli(term: Column) -> Column:
    """Deterministic hashed-feature weight in milli-units: the first 6 hex
    digits of md5(term) as an integer, mapped to [-500, 499]. md5 is the
    one hash Spark and DuckDB compute identically, so a linear model over
    these weights is exactly oracle-checkable. This is the fasttext-style
    hashing trick (Weinberger et al. 2009, public) with md5 as the hash."""
    return (
        F.conv(F.substring(F.md5(term), 1, 6), 16, 10).cast("long") % 1000
        - 500
    )


def linear_quality_score(
    docs, id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":  # noqa: F821
    """Hashed bag-of-words linear scorer: score = sum_t tf(t)*w(t)/1000
    with integer weights (term_weight_milli), so the sum is EXACT int64
    arithmetic in any addition order — no float-summation-order hazard —
    and only the final division is IEEE. Output: (id, n_tokens, n_terms,
    score_milli, score, label). Scale: explode is narrow; ONE shuffle on
    (id, term) with map-side combine, then one on id; weights need no
    model table at all (hashing trick), so nothing is broadcast."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.select(
            F.col(id_col),
            F.col("tf"),
            (F.col("tf") * term_weight_milli(F.col("term"))).alias("contrib"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("contrib").alias("score_milli"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_terms",
            "score_milli",
            (F.col("score_milli").cast("double") / 1000).alias("score"),
            (F.col("score_milli") >= 0).alias("label"),
        )
    )


def bigram_lm_stats(
    docs, id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":  # noqa: F821
    """Corpus-trained bigram-LM predictability score per document — the
    CCNet-style LM quality gate (Wenzek et al. 2020, public) with the LM
    trained on the corpus itself and a RATIONAL score instead of log-prob
    (libm log would poison cross-engine value hashes): per doc,
    score = sum(corpus_count(bigram)) / sum(corpus_count(prefix_unigram))
    over the doc's bigram occurrences — both sums exact int64, one IEEE
    division. High = the doc's word transitions are common corpus-wide;
    boilerplate scores high, gibberish low. Scale: two count aggregations
    (map-side combine) whose outputs are vocabulary-sized → broadcast onto
    the exploded occurrence stream; per-doc agg is the only big shuffle."""
    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    occ = docs.select(
        F.col(id_col), F.explode(bigrams).alias("bg")
    ).withColumn("prefix", F.substring_index(F.col("bg"), " ", 1))
    bg_counts = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("bg_n"))
    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    ug_counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("ug_n"))
    return (
        occ.join(F.broadcast(bg_counts), "bg")
        .join(
            F.broadcast(ug_counts), occ["prefix"] == ug_counts["term"]
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bg_n").alias("sum_bg"),
            F.sum("ug_n").alias("sum_prefix"),
        )
        .select(
            id_col,
            "n_bigrams",
            "sum_bg",
            "sum_prefix",
            (F.col("sum_bg").cast("double") / F.col("sum_prefix")).alias(
                "score"
            ),
        )
    )
