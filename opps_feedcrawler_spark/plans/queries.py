"""Operator registry (SURVEY.md §2): crawl-plane and training-data-pipeline
queries over the driver's ``documents``, ``embeddings`` and ``events``
tables.

Each entry: QUERIES[name](spark, sf_dir) -> DataFrame, with ORACLE_SQL[name]
the DuckDB-equivalent ANSI SQL over the driver's pre-registered views.
Keys absent from ORACLE_SQL get the driver's rows-only check.

Cross-engine exactness rules (so the order-insensitive value-hash matches):
- every computed column aliased identically on both sides;
- SUM aggregates computed over integers (exact, order-independent) and
  cast to DOUBLE at the end — never raw double sums (order-sensitive fp);
- noisy-double aggregates avoided in favor of COUNT/MIN/MAX (exact);
- ratios are single divisions of identical exact operands;
- every window carries a total-order tie-break;
- top-k via row_number (deterministic), never bare LIMIT.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textstats import (
    fingerprint,
    lang_id,
    normalize_ws,
    punct_ratio,
    quality_score,
    stopword_hits,
    token_count,
)
from ..functions.urlnorm import canonicalize_udf, host_col
from ..operators import dedup, similarity
from ..operators.politeness import schedule_budgeted
from ..operators.seen import bloom_and_probe, exact_new_urls, split_seen_table

QUERIES: dict = {}
ORACLE_SQL: dict = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =========================================================================
# Spark built-ins over the documents and embeddings tables
# =========================================================================


@_q(
    "dedup_title_levenshtein",
    f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32)) AS dist
    FROM documents a JOIN documents b
      ON a.source = b.source AND b.doc_id = a.doc_id + 20
    WHERE levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32)) <= 24
    """,
)
def dedup_title_levenshtein(spark, sf_dir):
    """Edit-distance near-dup signal (the title/prefix fuzzy-match the
    reference's entry dedup family implies [PK]), CANDIDATE-GATED like
    every pairwise op here: the pair generator is an equi-join (same
    source, fixed id offset), never all-pairs; levenshtein runs only on
    the bounded pair list. Spark's levenshtein == DuckDB's (standard
    unit-cost edit distance)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 32).alias("prefix")
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.doc_id") == F.col("a.doc_id") + 20),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("dist"),
    )
    return pairs.filter(F.col("dist") <= 24)


@_q(
    "explode_outer_doc_words",
    r"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN NULL
                  ELSE string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
             END AS ws
      FROM documents WHERE doc_id < 60)
    SELECT doc_id, u.word
    FROM w LEFT JOIN LATERAL UNNEST(ws) AS u(word) ON true
    """,
)
def explode_outer_doc_words(spark, sf_dir):
    """explode_outer (null-preserving 1→N): documents with empty text keep
    one row with a NULL word instead of vanishing — the outer variant the
    link/entry expansion uses when misses must stay visible."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    words = F.when(
        F.length(F.trim(F.col("text"))) > 0,
        F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "),
    )
    return d.select("doc_id", F.explode_outer(words).alias("word"))


@_q(
    "array_hof_embeddings",
    """
    SELECT vec_id,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS INT)
             AS n_positive,
           round(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                               x -> abs(x)), 'sum'), 4) AS l1_norm,
           CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x) > 2.5)) > 0
                THEN true ELSE false END AS has_outlier
    FROM embeddings
    """,
)
def array_hof_embeddings(spark, sf_dir):
    """B23 higher-order functions: filter / transform+aggregate / exists —
    all JVM-native lambda expressions inside whole-stage codegen."""
    e = T(spark, sf_dir, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                F.transform(arr, lambda x: F.abs(x)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            4,
        ).alias("l1_norm"),
        F.exists(arr, lambda x: F.abs(x) > 2.5).alias("has_outlier"),
    )


@_q(
    "array_funcs_embeddings",
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           round(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])), 4) AS sq_norm,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_dim
    FROM embeddings
    """,
)
def array_funcs_embeddings(spark, sf_dir):
    """B23 array surface: size / element access / zip_with+aggregate dot
    product (JVM-native left fold — no UDF)."""
    e = T(spark, sf_dir, "embeddings")
    dot = F.aggregate(
        F.zip_with(
            "embedding", "embedding", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(dot, 4).alias("sq_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_dim"),
    )


# =========================================================================
# Crawl-plane queries over the documents-as-pages corpus
# =========================================================================

_DOC_URL_SQL = "'http://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)"


def _doc_urls(spark, sf_dir) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.withColumn(
        "url",
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )


@_q(
    "crawl_seed_ingest",
    f"""
    SELECT {_DOC_URL_SQL} AS url FROM documents WHERE doc_id % 7 <> 0
    """,
)
def crawl_seed_ingest(spark, sf_dir):
    """A1 seed ingest through the REAL load_seeds reader (sources/io.py):
    a seed text file is written carrying comment lines, blank lines,
    surrounding whitespace and non-http schemes; the reader must keep
    exactly the trimmed http(s) URLs. Input derived only from the
    documents table (no external data)."""
    import os
    import tempfile

    from ..sources.io import load_seeds

    rows = (
        _doc_urls(spark, sf_dir).select("doc_id", "url").orderBy("doc_id").collect()
    )
    base = tempfile.mkdtemp(prefix="ofs-seed-q-")
    path = os.path.join(base, "seeds.txt")
    with open(path, "w") as fh:
        fh.write("# seed list derived from documents\n\n")
        for r in rows:
            if r.doc_id % 7 == 0:
                # non-http scheme — must be dropped by the reader
                fh.write("ftp://" + r.url[len("http://"):] + "\n")
            else:
                fh.write(f"  {r.url}  \n")
            if r.doc_id % 13 == 0:
                fh.write("\n")
    return load_seeds(spark, path)


@_q(
    "crawl_canonicalize",
    f"""
    SELECT doc_id,
           'http://' || lower(source) || '.example/doc/' || CAST(doc_id AS VARCHAR)
             || '?b=2' AS url_norm
    FROM documents
    """,
)
def crawl_canonicalize(spark, sf_dir):
    """A2 canonicalization UDF against an algebraic oracle: messy URLs
    (uppercase host, default port, dot-segments, tracking params, fragment)
    must normalize to the clean form the oracle constructs directly."""
    d = T(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTP://"),
        F.upper(F.col("source")),
        F.lit(".EXAMPLE:80/./doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&b=2#frag"),
    )
    return d.select("doc_id", canonicalize_udf(messy).alias("url_norm"))


@_q(
    "streaming_seed_ingest",
    f"""
    SELECT 'http://' || lower(source) || '.example/doc/'
             || CAST(doc_id AS VARCHAR) || '?b=2' AS url_norm,
           lower(source) || '.example' AS host
    FROM documents
    """,
)
def streaming_seed_ingest(spark, sf_dir):
    """Continuous frontier feeding through the REAL Structured Streaming
    pipeline (streaming/ingest.stream_seed_ingest): raw seed lines — two
    messy aliases of every document URL plus comment/blank noise — land
    in a text-file stream, are canonicalized by the batch engine's A2
    kernel inside the stream, deduplicated with checkpointed state, and
    drained exactly-once into a parquet sink via trigger(availableNow).
    The oracle constructs the expected canonical form algebraically
    (same trick as crawl_canonicalize); both aliases of a URL must
    collapse to ONE row for the counts to match, so the streaming dedup
    state is load-bearing in the check."""
    import tempfile

    from ..streaming.ingest import run_available_now, stream_seed_ingest

    d = T(spark, sf_dir, "documents")
    lines = d.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("HTTP://"), F.upper(F.col("source")),
                    F.lit(".EXAMPLE:80/./doc/"), F.col("doc_id").cast("string"),
                    F.lit("?utm_source=x&b=2#frag"),
                ),
                F.concat(
                    F.lit("http://"), F.col("source"), F.lit(".example/doc/"),
                    F.col("doc_id").cast("string"), F.lit("?b=2"),
                ),
                F.lit("# comment noise"),
            )
        ).alias("value")
    )
    base = tempfile.mkdtemp(prefix="ofs-seed-stream-")
    seed_dir, out_dir, ckpt = f"{base}/seeds", f"{base}/out", f"{base}/ckpt"
    lines.coalesce(1).write.mode("overwrite").text(seed_dir)
    run_available_now(stream_seed_ingest(spark, seed_dir), out_dir, ckpt)
    return spark.read.parquet(out_dir).select("url_norm", "host")


@_q(
    "crawl_host_extract",
    f"""
    SELECT doc_id,
           regexp_extract({_DOC_URL_SQL}, '^https?://([^/]+)', 1) AS host
    FROM documents
    """,
)
def crawl_host_extract(spark, sf_dir):
    """A4 native host extraction from canonical URLs."""
    return _doc_urls(spark, sf_dir).select("doc_id", host_col(F.col("url")).alias("host"))


@_q(
    "crawl_politeness_topk",
    f"""
    SELECT host, url_norm, priority FROM (
      SELECT source AS host, {_DOC_URL_SQL} AS url_norm,
             CAST(n_chars AS DOUBLE) AS priority,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY CAST(n_chars AS DOUBLE) DESC,
                                         {_DOC_URL_SQL}) AS rn
      FROM documents)
    WHERE rn <= 5
    """,
)
def crawl_politeness_topk(spark, sf_dir):
    """A9 through the REAL salted two-phase politeness operator
    (operators/politeness.schedule_budgeted), verified against the plain
    per-host top-k SQL — proving salting preserves exact top-k semantics."""
    fr = _doc_urls(spark, sf_dir).select(
        F.col("source").alias("host"),
        F.col("url").alias("url_norm"),
        F.col("n_chars").cast("double").alias("priority"),
        F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("salt"),
        F.lit(5).alias("budget"),
    )
    return schedule_budgeted(fr).select("host", "url_norm", "priority")


@_q(
    "crawl_frontier_antijoin",
    f"""
    SELECT {_DOC_URL_SQL} AS url_norm, source AS host
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 AND s.doc_id = d.doc_id)
    """,
)
def crawl_frontier_antijoin(spark, sf_dir):
    """A7 exact URL dedup (left_anti) through operators/seen.exact_new_urls."""
    urls = _doc_urls(spark, sf_dir)
    cand = urls.select(F.col("url").alias("url_norm"), F.col("source").alias("host"))
    seen = urls.filter(F.col("doc_id") % 3 == 0).select(
        F.col("url").alias("url_norm")
    )
    return exact_new_urls(cand, seen)


@_q("crawl_seen_bloom")  # rows-only: bloom membership is engine-internal
def crawl_seen_bloom(spark, sf_dir):
    """A5/A6 bloom build + probe in one co-partitioned stage
    (operators/seen.bloom_and_probe), as the crawl round runs them, at 16
    buckets × 2^14 bits: all seen URLs must probe maybe_seen=true (no
    false negatives — asserted in pytest; this entry returns the
    per-verdict counts)."""
    urls = _doc_urls(spark, sf_dir).withColumn("url_hash", F.xxhash64("url"))
    seen = urls.filter(F.col("doc_id") % 3 == 0).select("url_hash")
    cand = urls.select(F.col("url").alias("url_norm"), F.lit(0).alias("depth"), "url_hash")
    _, probed = split_seen_table(
        bloom_and_probe(seen, None, cand, nbuckets=16, bits=1 << 14)
    )
    return probed.groupBy("maybe_seen").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "crawl_extract_text",
    r"""
    SELECT doc_id,
           trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted
    FROM documents
    WHERE lang = 'en' AND text NOT LIKE '%<%' AND text NOT LIKE '%&%'
    """,
)
def crawl_extract_text(spark, sf_dir):
    """A13 boilerplate-stripping pandas UDF vs algebraic oracle: wrap each
    document in boilerplate HTML (nav/script/title), extract, and the result
    must equal the whitespace-collapsed original text."""
    from ..functions.extract import extract_text_udf

    d = T(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en")
        & ~F.col("text").like("%<%")
        & ~F.col("text").like("%&%")
    )
    html = F.encode(
        F.concat(
            F.lit(
                "<html><head><title>boiler</title><script>x=1</script></head>"
                "<body><nav>nav menu</nav><p>"
            ),
            F.col("text"),
            F.lit("</p><footer>foot</footer></body></html>"),
        ),
        "UTF-8",
    )
    return d.select("doc_id", extract_text_udf(html).alias("extracted"))


@_q(
    "crawl_fetch_join",
    f"""
    WITH sched AS (
      SELECT url_norm FROM (
        SELECT {_DOC_URL_SQL} AS url_norm, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY CAST(n_chars AS DOUBLE) DESC,
                                           {_DOC_URL_SQL}) AS rn
        FROM documents) WHERE rn <= 5),
    pages AS (SELECT {_DOC_URL_SQL} AS url_norm, n_chars FROM documents)
    SELECT s.url_norm, CAST(p.n_chars AS BIGINT) AS n_chars
    FROM sched s LEFT JOIN pages p ON p.url_norm = s.url_norm
    """,
)
def crawl_fetch_join(spark, sf_dir):
    """A11 fetch-as-join: scheduled top-k per host joined back to the page
    corpus (the sandbox fetch path)."""
    urls = _doc_urls(spark, sf_dir)
    fr = urls.select(
        F.col("source").alias("host"),
        F.col("url").alias("url_norm"),
        F.col("n_chars").cast("double").alias("priority"),
        F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("salt"),
        F.lit(5).alias("budget"),
    )
    sched = schedule_budgeted(fr).select("url_norm")
    pages = urls.select(F.col("url").alias("url_norm"), F.col("n_chars"))
    return sched.join(pages, "url_norm", "left").select(
        "url_norm", F.col("n_chars").cast("long").alias("n_chars")
    )


# =========================================================================
# Training-data pipeline: text analysis
# =========================================================================


@_q(
    "text_token_count",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
           END AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@_q(
    "text_quality_score",
    r"""
    SELECT doc_id,
           round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
           CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS INT)
             AS stopword_hits,
           round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                  + (1.0 - least((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                                 / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0, 1.0))
                  + least(CAST(CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS INT)
                               AS DOUBLE) / 5.0, 1.0)) / 3.0, 6) AS quality
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        stopword_hits(F.col("text")).alias("stopword_hits"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    )


@_q(
    "text_lang_id",
    """
    SELECT doc_id, lang,
           CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                WHEN regexp_matches(text, ' (el|la|los|las|una) ') THEN 'es'
                WHEN regexp_matches(text, ' (der|die|und|nicht) ') THEN 'de'
                ELSE 'en' END AS lang_pred
    FROM documents
    """,
)
def text_lang_id(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


@_q(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# =========================================================================
# Training-data pipeline: dedup family + similarity search
# =========================================================================


@_q(
    "text_repetition_stats",
    r"""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
               AS ws
      FROM documents),
    base AS (
      SELECT doc_id, len(ws) AS n_words,
             round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                       / CAST(len(ws) AS DOUBLE), 9) AS dup_word_frac,
             ws
      FROM w),
    bg AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
      FROM base, UNNEST(range(1, n_words)) AS t(i)
      WHERE n_words >= 2),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
    top AS (
      SELECT doc_id,
             round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 9)
               AS top_bigram_frac
      FROM cnt GROUP BY doc_id)
    SELECT base.doc_id, n_words, dup_word_frac,
           COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
    FROM base LEFT JOIN top ON base.doc_id = top.doc_id
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (functions/textstats.py):
    word-repeat mass (narrow, no shuffle) + top-bigram occupancy (one
    explode + map-combined two-level agg) — the pre-training corpus
    filters a 100 TB pipeline runs before anything else."""
    from ..functions.textstats import repetition_stats

    return repetition_stats(T(spark, sf_dir, "documents"))


@_q(
    "text_bpe_token_count",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(trim(regexp_replace(text, '\s+', ' ', 'g')),
                                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark, sf_dir):
    """BPE-style pre-tokenizer count (functions/textstats.py): letter runs
    | digit runs | single non-alnum — the sub-word split GPT-2-family
    tokenizers apply before merges, the budget unit an LLM-data pipeline
    actually meters. Identical regex in both engines."""
    from ..functions.textstats import bpe_ish_token_count

    return T(spark, sf_dir, "documents").select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens")
    )


@_q("text_bpe_encode")
def text_bpe_encode(spark, sf_dir):
    """REAL BPE train + apply (functions/bpe.py — Sennrich 2016 / the
    GPT-2 encode loop): a 200-merge table is learned driver-side on a
    bounded deterministic sample (xxhash64 draw, the k-means pattern),
    shipped in the UDF closure, and every document is encoded with the
    greedy lowest-rank merge loop (Arrow-batched, per-batch distinct-word
    cache — Zipf makes that cache the whole cost model). Output is the
    per-doc token accounting (pretokens / BPE tokens / chars). Rows-only
    by nature: the merge loop is iterative and not SQL-expressible —
    algorithm correctness is pinned by pytest instead (hand-derived
    textbook merge order, monotonic-compression and rejoin invariants,
    tie-break determinism: tests/test_bpe.py)."""
    from ..functions.bpe import apply_bpe, train_bpe_merges

    d = T(spark, sf_dir, "documents")
    merges = train_bpe_merges(d, n_merges=200)
    return apply_bpe(d, merges)


@_q(
    "text_rare_word_stats",
    r"""
    WITH toks AS (
      SELECT doc_id, w.word
      FROM documents,
           UNNEST(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
             AS w(word)
      WHERE length(w.word) > 0),
    vocab AS (SELECT word, COUNT(*) AS cf FROM toks GROUP BY word)
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS rare_frac
    FROM toks JOIN vocab USING (word)
    GROUP BY doc_id
    """,
)
def text_rare_word_stats(spark, sf_dir):
    """Corpus-frequency rare-token mass (functions/textstats.py): the
    LM-score-shaped dataflow (vocab build → frequency join → per-doc agg)
    with exact integer arithmetic so the oracle hashes identically."""
    from ..functions.textstats import rare_word_stats

    return rare_word_stats(T(spark, sf_dir, "documents"))


@_q(
    "dedup_exact_docs",
    r"""
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_docs(spark, sf_dir):
    return dedup.dedup_exact(T(spark, sf_dir, "documents"))


@_q(
    "dedup_ngram_jaccard",
    r"""
    WITH ws AS (
      SELECT DISTINCT doc_id AS id, w.word
      FROM documents,
           UNNEST(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
             AS w(word)
      WHERE doc_id < 150 AND length(w.word) > 0),
    sz AS (SELECT id, COUNT(*) AS sz FROM ws GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM ws a JOIN ws b ON a.word = b.word AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-set Jaccard pairs (gated to doc_id<150 to bound the
    quadratic verify — the ungated path goes through MinHash+LSH below)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return dedup.jaccard_pairs(d, threshold=0.5)


@_q("dedup_minhash_lsh")  # rows-only: LSH recall is probabilistic
def dedup_minhash_lsh(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return dedup.minhash_lsh_pairs(d, threshold=0.5)


@_q("dedup_simhash")  # rows-only: signature design is engine-specific
def dedup_simhash(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return dedup.simhash_pairs(d, max_hamming=8)


@_q(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))), 6)
             AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(a.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])))), 6) >= 0.95
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    return dedup.embedding_dup_pairs(
        T(spark, sf_dir, "embeddings"), threshold=0.95
    )


@_q(
    "ann_bruteforce_topk",
    """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])))), 6)
               AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def ann_bruteforce(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.ann_bruteforce_topk(
        e.filter(F.col("vec_id") < 5), e, k=3
    )


@_q("ann_lsh_topk")  # rows-only: approximate by construction
def ann_lsh(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(e.filter(F.col("vec_id") < 5), e, k=3)


# =========================================================================
# Multimodal plumbing (binary columns through mapInPandas)
# =========================================================================


# =========================================================================
# Crawl extraction plane: RSS entries, link growth, robots verdicts
# =========================================================================


@_q(
    "crawl_rss_entries",
    f"""
    SELECT doc_id, 'guid-' || CAST(doc_id AS VARCHAR) AS entry_guid,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           {_DOC_URL_SQL} AS link,
           TIMESTAMP '2024-01-01 00:00:00'
             + ((doc_id // 60) % 60) * INTERVAL 1 MINUTE
             + (doc_id % 60) * INTERVAL 1 SECOND AS published_ts,
           'Entry for doc ' || CAST(doc_id AS VARCHAR) AS summary
    FROM documents
    UNION ALL
    SELECT doc_id, {_DOC_URL_SQL} || '/extra' AS entry_guid,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' extra' AS title,
           {_DOC_URL_SQL} || '/extra' AS link,
           CAST(NULL AS TIMESTAMP) AS published_ts,
           CAST(NULL AS VARCHAR) AS summary
    FROM documents
    """,
)
def crawl_rss_entries(spark, sf_dir):
    """A12 RSS entry extraction vs an algebraic oracle: build a 2-item RSS
    document per row (item 1 full; item 2 guid-less so entry_guid must fall
    back to the link, the reference's dedup key [PK]), parse with the
    Arrow-batched UDF, explode. Exercises guid fallback, RFC-822 pubDate
    parsing, and missing-field null handling in one pass."""
    from ..functions.extract import extract_entries_udf

    d = _doc_urls(spark, sf_dir)
    mm = F.format_string("%02d", (F.floor(F.col("doc_id") / 60) % 60).cast("int"))
    ss = F.format_string("%02d", (F.col("doc_id") % 60).cast("int"))
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><item><guid>guid-'),
        F.col("doc_id").cast("string"),
        F.lit("</guid><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><link>"),
        F.col("url"),
        F.lit("</link><pubDate>Mon, 01 Jan 2024 00:"),
        mm,
        F.lit(":"),
        ss,
        F.lit(" GMT</pubDate><description>Entry for doc "),
        F.col("doc_id").cast("string"),
        F.lit("</description></item><item><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" extra</title><link>"),
        F.col("url"),
        F.lit("/extra</link></item></channel></rss>"),
    )
    return d.select(
        "doc_id", F.explode(extract_entries_udf(rss)).alias("e")
    ).select(
        "doc_id",
        F.col("e.entry_guid").alias("entry_guid"),
        F.col("e.title").alias("title"),
        F.col("e.link").alias("link"),
        F.col("e.published_ts").alias("published_ts"),
        F.col("e.summary").alias("summary"),
    )


@_q(
    "crawl_link_extract",
    f"""
    SELECT doc_id, 0 AS pos,
           'http://' || source || '.example/doc/' || CAST(doc_id + 1 AS VARCHAR) AS link
    FROM documents
    UNION ALL
    SELECT doc_id, 1 AS pos,
           'http://' || source || '.example/rel/' || CAST(doc_id AS VARCHAR) AS link
    FROM documents
    """,
)
def crawl_link_extract(spark, sf_dir):
    """A14 link extraction vs algebraic oracle: an absolute link, a relative
    link (must resolve against the page url), and a duplicate (must dedup
    first-wins, preserving document order — checked via posexplode)."""
    from ..functions.extract import extract_links_udf

    d = _doc_urls(spark, sf_dir)
    nxt = F.concat(
        F.lit("http://"),
        F.col("source"),
        F.lit(".example/doc/"),
        (F.col("doc_id") + 1).cast("string"),
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        nxt,
        F.lit('">n</a><a href="/rel/'),
        F.col("doc_id").cast("string"),
        F.lit('">r</a><a href="'),
        nxt,
        F.lit('">dup</a></body></html>'),
    )
    return d.select(
        "doc_id",
        F.posexplode(extract_links_udf(html, F.col("url"))).alias("pos", "link"),
    )


@_q(
    "crawl_robots_filter",
    f"""
    SELECT doc_id, {_DOC_URL_SQL} AS url_norm,
           CASE WHEN CAST(doc_id AS VARCHAR) LIKE '12%' THEN true
                WHEN CAST(doc_id AS VARCHAR) LIKE '1%' THEN false
                ELSE true END AS allowed
    FROM documents
    """,
)
def crawl_robots_filter(spark, sf_dir):
    """A10 robots verdict through the REAL native longest-prefix operator
    (operators/robots.with_robots): Disallow /doc/1 beaten by the longer
    Allow /doc/12 (RFC 9309 §2.2.2), everything else allowed."""
    from ..operators.robots import with_robots

    d = _doc_urls(spark, sf_dir)
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.lit(1.0).alias("crawl_delay"),
        F.array(
            F.struct(F.lit(False).alias("allow"), F.lit("/doc/1").alias("prefix")),
            F.struct(F.lit(True).alias("allow"), F.lit("/doc/12").alias("prefix")),
        ).alias("rules"),
    )
    fr = d.select(
        "doc_id", F.col("url").alias("url_norm"), F.col("source").alias("host")
    )
    return with_robots(fr, robots).select("doc_id", "url_norm", "allowed")


@_q(
    "crawl_robots_wildcard",
    f"""
    SELECT doc_id, {_DOC_URL_SQL} AS url_norm,
           CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%11' THEN true
                WHEN CAST(doc_id AS VARCHAR) LIKE '%1' THEN false
                WHEN CAST(doc_id AS VARCHAR) LIKE '2%' THEN false
                ELSE true END AS allowed
    FROM documents
    """,
)
def crawl_robots_wildcard(spark, sf_dir):
    """A10 with RFC 9309 §2.2.3 special characters through the native
    operator: '*' any-sequence and final-'$' end anchor, most-octets
    precedence — Disallow /doc/*1$ (ids ending in 1) is beaten by the
    longer Allow /doc/*11$ (ids ending in 11); Disallow /doc/2* kills ids
    starting with 2. Oracle is the algebraic CASE over doc_id digits."""
    from ..operators.robots import with_robots

    d = _doc_urls(spark, sf_dir)
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.lit(1.0).alias("crawl_delay"),
        F.array(
            F.struct(F.lit(False).alias("allow"), F.lit("/doc/*1$").alias("prefix")),
            F.struct(F.lit(True).alias("allow"), F.lit("/doc/*11$").alias("prefix")),
            F.struct(F.lit(False).alias("allow"), F.lit("/doc/2*").alias("prefix")),
        ).alias("rules"),
    )
    fr = d.select(
        "doc_id", F.col("url").alias("url_norm"), F.col("source").alias("host")
    )
    return with_robots(fr, robots).select("doc_id", "url_norm", "allowed")


@_q(
    "feeds_process_capped",
    f"""
    SELECT doc_id AS feed_id,
           'doc-' || CAST(doc_id AS VARCHAR) AS slug,
           'default' AS group_name,
           'guid-' || CAST(doc_id AS VARCHAR) AS entry_guid,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           {_DOC_URL_SQL} AS link,
           TIMESTAMP '2024-01-01 00:00:00'
             + ((doc_id // 60) % 60) * INTERVAL 1 MINUTE
             + (doc_id % 60) * INTERVAL 1 SECOND AS published_ts,
           'Entry for doc ' || CAST(doc_id AS VARCHAR) AS summary,
           0 AS pos
    FROM documents
    WHERE doc_id % 10 <> 0
    """,
)
def feeds_process_capped(spark, sf_dir):
    """The reference's end-to-end API (plans/feeds.py): register a feed per
    document (messy source_url → canonicalization, slug from title,
    max_entries=1, publish=false every 10th), process against 2-item RSS
    pages. Oracle = exactly the FIRST item of each published feed."""
    from ..plans.feeds import process_feeds, register_feeds

    d = _doc_urls(spark, sf_dir)
    mm = F.format_string("%02d", (F.floor(F.col("doc_id") / 60) % 60).cast("int"))
    ss = F.format_string("%02d", (F.col("doc_id") % 60).cast("int"))
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><item><guid>guid-'),
        F.col("doc_id").cast("string"),
        F.lit("</guid><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><link>"),
        F.col("url"),
        F.lit("</link><pubDate>Mon, 01 Jan 2024 00:"),
        mm,
        F.lit(":"),
        ss,
        F.lit(" GMT</pubDate><description>Entry for doc "),
        F.col("doc_id").cast("string"),
        F.lit("</description></item><item><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" extra</title><link>"),
        F.col("url"),
        F.lit("/extra</link></item></channel></rss>"),
    )
    pages = d.select(
        F.col("url").alias("url_norm"), F.encode(rss, "UTF-8").alias("html")
    )
    feeds = d.select(
        F.col("doc_id").alias("feed_id"),
        F.concat(F.lit("Doc "), F.col("doc_id").cast("string")).alias("title"),
        F.lit(None).cast("string").alias("slug"),
        F.concat(
            F.lit("HTTP://"),
            F.upper(F.col("source")),
            F.lit(".EXAMPLE/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("#x"),
        ).alias("source_url"),
        F.lit(None).cast("string").alias("group_name"),
        F.lit("rss").alias("processor"),
        F.lit(1).alias("max_entries"),
        (F.col("doc_id") % 10 != 0).alias("publish"),
    )
    return process_feeds(register_feeds(feeds), pages)


# =========================================================================
# UDF surface completions: B33 iterator UDF, B37 Python UDTF
# =========================================================================


@_q(
    "iter_udf_token_count",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
           END AS n_tokens
    FROM documents
    """,
)
def iter_udf_token_count(spark, sf_dir):
    """B33 iterator-form pandas UDF: the compiled regex is built ONCE per
    Python worker (the batch-expensive-init pattern), then streamed over
    Arrow batches. Oracle-identical to the JVM-native token_count."""
    import re

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def tokens_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        ws = re.compile(r"\s+")  # expensive init, once per worker
        for s in batches:
            stripped = s.fillna("").str.strip()
            yield stripped.map(
                lambda t: len(ws.split(t)) if t else 0
            ).astype("int32")

    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", tokens_iter(F.col("text")).alias("n_tokens"))


@_q(
    "udtf_split_sentences",
    r"""
    SELECT doc_id, trim(s.part) AS sentence
    FROM documents, UNNEST(string_split(text, '.')) AS s(part)
    WHERE length(trim(s.part)) > 0
    """,
)
def udtf_split_sentences(spark, sf_dir):
    """B37 Python UDTF (Spark 4): table-valued sentence splitter consumed
    via a LATERAL join — the 1→N expansion shape explode can't express when
    the row logic is imperative."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence string")
    class SplitSentences:
        def eval(self, doc_id, text):  # noqa: ANN001
            for part in (text or "").split("."):
                part = part.strip()
                if part:
                    yield doc_id, part

    spark.udtf.register("ofs_split_sentences", SplitSentences)
    T(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.sentence
        FROM udtf_docs, LATERAL ofs_split_sentences(doc_id, text) s
        """
    )


_BFS_MAX_HOPS = 4
_BFS_SEED_MOD = 97


@_q(
    "graph_bfs_hops",
    f"""
    WITH RECURSIVE
    edges AS (
      SELECT doc_id AS src,
             (doc_id + n_chars) % (SELECT COUNT(*) FROM documents) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id,
             (doc_id * 7 + n_chars) % (SELECT COUNT(*) FROM documents)
      FROM documents
    ),
    bfs AS (
      SELECT doc_id AS node, 0 AS hop
      FROM documents WHERE doc_id % {_BFS_SEED_MOD} = 0
      UNION
      SELECT e.dst, bfs.hop + 1
      FROM bfs JOIN edges e ON e.src = bfs.node
      WHERE bfs.hop < {_BFS_MAX_HOPS}
    )
    SELECT node AS doc_id, CAST(MIN(hop) AS INT) AS hop
    FROM bfs GROUP BY node
    """,
)
def graph_bfs_hops(spark, sf_dir):
    """Iterative distributed BFS (min-hop from a seed set, 6 hops)
    over a deterministic synthetic link graph derived from document
    attributes (each doc links to (doc_id + n_chars) % n and
    (doc_id*7 + n_chars) % n — both engines derive the same edges from the
    same data). The classic Pregel-style frontier loop expressed in pure
    DataFrame ops: per iteration, expand the frontier through the edge
    join, anti-join out already-visited nodes, union into the distance
    set. Oracle: DuckDB recursive CTE — the driver cross-checks an
    ITERATIVE algorithm, not just single-pass SQL.

    Scale design: edges are hash-partitioned by src ONCE and persisted, so
    every iteration's expand join reuses that layout and only the (small)
    frontier shuffles; visited/dist stay (node, hop) narrow. At web scale
    you add localCheckpoint every few hops to cut lineage — 6 bounded
    iterations here keep plans small without it."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cnt = docs.count()  # scalar graph parameter, same value the oracle uses
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") + F.col("n_chars")) % cnt).alias("dst"),
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * 7 + F.col("n_chars")) % cnt).alias("dst"),
            )
        )
        .repartition("src")
        .persist()
    )
    dist = (
        docs.filter(F.col("doc_id") % _BFS_SEED_MOD == 0)
        .select(F.col("doc_id").alias("node"), F.lit(0).alias("hop"))
    )
    frontier = dist
    for hop in range(1, _BFS_MAX_HOPS + 1):
        # frontier is distinct by construction (seed filter / the distinct
        # below), so the expand join needs no extra dedup on the src side
        frontier = (
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(hop))
            .persist()
        )
        dist = dist.unionByName(frontier)
        # a production loop with max-hops above the graph diameter adds
        # `if frontier.isEmpty(): break` here (the standard Pregel
        # termination test); at 4 bounded hops the eager per-hop job
        # costs more than it saves, so the whole DAG runs as one job
    return dist.groupBy(F.col("node").alias("doc_id")).agg(
        F.min("hop").cast("int").alias("hop")
    )


@_q(
    "split_train_test_stratified",
    """
    SELECT lang,
           CASE WHEN ((doc_id % 1048573) * 2654435761 + 12345)
                     % 4294967296 % 100 < 80
                THEN 'train' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang, split
    """,
)
def split_train_test_stratified(spark, sf_dir):
    """Deterministic stratified train/test split (80/20 within each lang
    stratum) — the reproducible-split primitive every training pipeline
    needs: membership is a pure function of the row key, so the split is
    stable across runs, partitionings, and engines (no sampling state).
    The hash here is a Knuth multiplicative hash in plain int64 arithmetic
    so the DuckDB oracle computes the identical split; production would
    use xxhash64(doc_id) with the same modulo-bucket shape.

    Scale design: split assignment is map-side arithmetic (no shuffle);
    the only shuffle is the final (lang, split) aggregate — 2×|langs|
    groups. Filtering to one split stays a pushed-down predicate."""
    docs = T(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % 1048573) * F.lit(2654435761) + 12345) % F.lit(
        4294967296
    ) % 100
    return (
        docs.withColumn(
            "split", F.when(h < 80, F.lit("train")).otherwise(F.lit("test"))
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


_PR_MASS = 1_000_000
_PR_ITERS = 3


def _pr_edges_sql(cnt_expr: str) -> str:
    return f"""
    SELECT doc_id AS src, (doc_id + n_chars) % {cnt_expr} AS dst
    FROM documents
    UNION ALL
    SELECT doc_id, (doc_id * 7 + n_chars) % {cnt_expr} FROM documents
    """


@_q(
    "pagerank_mass_3iter",
    f"""
    WITH edges AS ({_pr_edges_sql('(SELECT COUNT(*) FROM documents)')}),
    r0 AS (SELECT doc_id AS node, CAST({_PR_MASS} AS BIGINT) AS mass
           FROM documents),
    r1 AS (SELECT d.doc_id AS node,
                  150000 + COALESCE(SUM((p.mass * 85) // 200), 0) AS mass
           FROM documents d
           LEFT JOIN edges e ON e.dst = d.doc_id
           LEFT JOIN r0 p ON p.node = e.src
           GROUP BY d.doc_id),
    r2 AS (SELECT d.doc_id AS node,
                  150000 + COALESCE(SUM((p.mass * 85) // 200), 0) AS mass
           FROM documents d
           LEFT JOIN edges e ON e.dst = d.doc_id
           LEFT JOIN r1 p ON p.node = e.src
           GROUP BY d.doc_id),
    r3 AS (SELECT d.doc_id AS node,
                  150000 + COALESCE(SUM((p.mass * 85) // 200), 0) AS mass
           FROM documents d
           LEFT JOIN edges e ON e.dst = d.doc_id
           LEFT JOIN r2 p ON p.node = e.src
           GROUP BY d.doc_id)
    SELECT node AS doc_id, CAST(mass AS BIGINT) AS mass FROM r3
    """,
)
def pagerank_mass_3iter(spark, sf_dir):
    """PageRank, 3 synchronous iterations, damping 0.85, over the same
    deterministic synthetic link graph as graph_bfs_hops — the second
    iterative-algorithm surface, oracle-paired. All arithmetic is INTEGER
    "mass" (start 1e6 per node; each edge carries floor(mass*85/200) —
    out-degree is exactly 2 — plus a 150000 teleport constant), so
    per-edge contributions and their sums are exact and order-independent
    in both engines: float PageRank would never hash-match across
    engines; integer mass does, bit for bit.

    Scale design: the per-iteration plan is edges⋈mass (hash join on
    src, edges pre-partitioned+persisted once) then a groupBy(dst) SUM —
    partial aggregation map-side, one shuffle per iteration, mass stays
    a narrow (node, long) table. This is Pregel-on-DataFrames; at 100 TB
    you checkpoint mass every few iterations to cut lineage."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cnt = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") + F.col("n_chars")) % cnt).alias("dst"),
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * 7 + F.col("n_chars")) % cnt).alias("dst"),
            )
        )
        .repartition("src")
        .persist()
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    mass = nodes.withColumn("mass", F.lit(_PR_MASS).cast("bigint"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(mass, edges["src"] == mass["node"])
            .select("dst", F.expr("(mass * 85) div 200").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        mass = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.lit(150000) + F.coalesce(F.col("in_mass"), F.lit(0)))
                .cast("bigint")
                .alias("mass"),
            )
        )
    return mass.select(F.col("node").alias("doc_id"), "mass")


_CC_ITERS = 3


@_q(
    "connected_components_3iter",
    f"""
    WITH dedges AS ({_pr_edges_sql('(SELECT COUNT(*) FROM documents)')}),
    edges AS (
      SELECT src, dst FROM dedges
      UNION ALL
      SELECT dst, src FROM dedges
    ),
    l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
    l1 AS (SELECT p.node,
                  LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           FROM l0 p
           LEFT JOIN edges e ON e.dst = p.node
           LEFT JOIN l0 n ON n.node = e.src
           GROUP BY p.node, p.label),
    l2 AS (SELECT p.node,
                  LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           FROM l1 p
           LEFT JOIN edges e ON e.dst = p.node
           LEFT JOIN l1 n ON n.node = e.src
           GROUP BY p.node, p.label),
    l3 AS (SELECT p.node,
                  LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           FROM l2 p
           LEFT JOIN edges e ON e.dst = p.node
           LEFT JOIN l2 n ON n.node = e.src
           GROUP BY p.node, p.label)
    SELECT node AS doc_id, CAST(label AS BIGINT) AS component
    FROM l3
    """,
)
def connected_components_3iter(spark, sf_dir):
    """Connected components by synchronous min-label propagation (3
    iterations, labels init to node id) over the undirected closure of
    the synthetic link graph — the third iterative-algorithm surface,
    oracle-paired: integer MIN is exact and order-independent, so the
    cross-engine hash matches bit-for-bit (3 bounded iterations are the
    checked contract; production loops to a fixed point with the same
    per-iteration plan plus an unchanged-count termination test).

    Scale design: per iteration one edges⋈labels hash join (edges
    pre-partitioned+persisted once, both directions materialized up
    front) and one groupBy(node) MIN with map-side partial aggregation —
    the same narrow-state Pregel shape as pagerank_mass_3iter. Label
    propagation converges in O(diameter) iterations; large-diameter
    graphs switch to the alternating large/small-star algorithm with
    the identical join+min building block."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cnt = docs.count()
    fwd = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") + F.col("n_chars")) % cnt).alias("dst"),
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + F.col("n_chars")) % cnt).alias("dst"),
        )
    )
    edges = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .persist()
    )
    labels = docs.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    )
    # Lazy unroll is DELIBERATE here (measured): labels appears twice per
    # iteration, so the unevaluated state subtree doubles per pass — but
    # the state source is one cheap projection of a cached table, and at 3
    # bounded iterations recomputing it inside ONE job costs less than 3
    # eager materialization jobs (A/B at sf0.1: lazy ~2.1 s vs
    # persist+count ~4.3 s warm). The opposite trade holds when the state
    # subtree is expensive — dedup_cluster_canonical's pair generation —
    # where the loop DOES persist+materialize per pass; a production
    # fixpoint loop needs the eager form anyway for its termination test.
    for _ in range(_CC_ITERS):
        incoming = (
            edges.join(labels, edges["src"] == labels["node"])
            .select("dst", "label")
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(incoming, labels["node"] == incoming["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").cast("bigint").alias("component")
    )


_SAMPLE_PER_STRATUM = 20


@_q(
    "sample_stratified_fixed",
    f"""
    WITH prio AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ((doc_id % 1048573) * 2654435761 + 98765)
                        % 4294967296, doc_id) AS rn
      FROM documents)
    SELECT lang, doc_id, n_chars
    FROM prio WHERE rn <= {_SAMPLE_PER_STRATUM}
    """,
)
def sample_stratified_fixed(spark, sf_dir):
    """Fixed-size stratified sampling: exactly k=20 documents per lang
    stratum, drawn by deterministic hash priority (lowest multiplicative
    hash wins, doc_id tie-break) — the reproducible eval-set /
    inspection-sample primitive; re-runs, engines and partitionings all
    agree on the same sample. Complements split_train_test_stratified
    (fractional split) with the fixed-count shape.

    Scale design: one shuffle (the per-stratum window); the hash
    priority is map-side arithmetic. For strata too large for a single
    window partition, the same priority supports a two-phase top-k
    (per-partition top-k then merge) — operators/politeness.py already
    implements that shape for the crawl scheduler."""
    docs = T(spark, sf_dir, "documents")
    prio = ((F.col("doc_id") % 1048573) * F.lit(2654435761) + 98765) % F.lit(
        4294967296
    )
    w = Window.partitionBy("lang").orderBy(prio.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SAMPLE_PER_STRATUM)
        .select("lang", "doc_id", "n_chars")
    )


_PACK_BUDGET = 16384


@_q(
    "pack_doc_chunks",
    f"""
    WITH prefixed AS (
      SELECT source, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS prefix
      FROM documents)
    SELECT source,
           CAST(prefix // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS pack_chars,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM prefixed
    GROUP BY source, pack_id
    """,
)
def pack_doc_chunks(spark, sf_dir):
    """Sequence packing for training: concatenate documents (in doc_id
    order, within each source shard) into fixed-budget chunks of
    ~16 KiB of text — the operation that turns a document table into
    packed training sequences. Chunk assignment is prefix-sum div
    budget (a doc whose prefix crosses the boundary starts the next
    chunk's range; chunks can overflow by less than one doc — the
    standard contiguous-packing approximation; true first-fit bin
    packing is order-sensitive and not SQL-expressible).

    Scale design: the running sum is windowed PER SOURCE SHARD (never a
    global single-partition window) — shards pack in parallel, which is
    also how production packs: within input shards, not across them."""
    docs = T(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixed = docs.withColumn(
        "prefix", F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    )
    return (
        prefixed.withColumn(
            "pack_id", F.expr(f"prefix div {_PACK_BUDGET}").cast("bigint")
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("pack_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


_MIX_HEAD = 200


@_q(
    "mix_sources_interleave",
    f"""
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS src_n
      FROM documents),
    keyed AS (
      SELECT source, doc_id, (rn * 1000000) // src_n AS mix_key
      FROM ranked),
    top AS (
      SELECT source, mix_key,
             ROW_NUMBER() OVER (ORDER BY mix_key, source, doc_id) AS pos
      FROM keyed)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_in_head,
           CAST(MIN(mix_key) AS BIGINT) AS first_key,
           CAST(MAX(mix_key) AS BIGINT) AS last_key
    FROM top WHERE pos <= {_MIX_HEAD}
    GROUP BY source
    """,
)
def mix_sources_interleave(spark, sf_dir):
    """Corpus mixing: interleave per-source document streams into one
    training order so every source is consumed proportionally (each
    source's rank rn maps to mix_key = rn*1e6 div |source| ∈ [0, 1e6] —
    all sources finish together; integer arithmetic so both engines
    agree exactly). The check inspects the head of the mixed order:
    docs per source among the first 200 global positions.

    Scale design: per-source ranks are parallel windows (partitioned by
    source); the global head is orderBy(...).limit(n) — Spark's
    distributed TakeOrdered, NOT a single-partition global window. The
    full mixed order at scale uses the same two-phase range-partitioned
    rank as the crawl scheduler (operators/politeness.py)."""
    docs = T(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.select(
        "source",
        "doc_id",
        F.row_number().over(wsrc).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("src_n"),
    )
    keyed = ranked.withColumn(
        "mix_key", F.expr("(rn * 1000000) div src_n").cast("bigint")
    )
    head = keyed.orderBy("mix_key", "source", "doc_id").limit(_MIX_HEAD)
    return head.groupBy("source").agg(
        F.count("*").alias("n_in_head"),
        F.min("mix_key").cast("bigint").alias("first_key"),
        F.max("mix_key").cast("bigint").alias("last_key"),
    )


@_q("ann_ivf_topk")  # rows-only: approximate by construction
def ann_ivf(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.ann_ivf_topk(e.filter(F.col("vec_id") < 5), e, k=3)


@_q("streaming_watermark_dedup")  # rows-only: streaming runtime, not SQL
def streaming_watermark_dedup(spark, sf_dir):
    """B27+B30+B31 through the REAL Structured Streaming pipeline
    (streaming/ingest.py): file-source readStream → watermark → stateful
    dropDuplicatesWithinWatermark → tumbling per-host counts, drained with
    trigger(availableNow) so the run is deterministic. The page-fetch event
    stream is derived from the events table (url ≈ user_id/event pair, host
    ≈ event_type) so no data is synthesized."""
    import tempfile

    from ..streaming.ingest import run_available_now, streaming_page_events

    e = T(spark, sf_dir, "events")
    src = e.select(
        F.col("ts"),
        F.concat(
            F.lit("http://"), F.col("event_type"), F.lit(".example/u/"),
            # duplicate urls on purpose: user_id collisions exercise the
            # stateful dedup
            (F.col("user_id") % 40).cast("string"),
        ).alias("url"),
        F.concat(F.col("event_type"), F.lit(".example")).alias("host"),
    )
    base = tempfile.mkdtemp(prefix="ofs-stream-q-")
    src_dir, out_dir, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    src.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = streaming_page_events(
        spark, src_dir, "ts timestamp, url string, host string"
    )
    run_available_now(stream, out_dir, ckpt)
    return (
        spark.read.parquet(out_dir)
        .groupBy("host")
        .agg(
            F.sum("n_fetched").cast("long").alias("n_fetched"),
            F.count(F.lit(1)).alias("n_windows"),
        )
    )


@_q("streaming_stateful_host_rate")  # rows-only: streaming runtime, not SQL
def streaming_stateful_host_rate(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState,
    streaming/ingest.py): per-host cumulative fetch counts + min-gap
    politeness violations with state carried across micro-batches
    (maxFilesPerTrigger=1 over two source files forces a cross-batch
    carry). Source derived from the events table; drained with
    trigger(availableNow) so the run is deterministic."""
    import tempfile

    from ..streaming.ingest import run_available_now, stateful_host_rate

    e = T(spark, sf_dir, "events")

    def src(half: int):
        return e.filter(F.col("event_id") % 2 == half).select(
            F.concat(
                F.lit("http://"), F.col("event_type"), F.lit(".example/u/"),
                F.col("user_id").cast("string"),
            ).alias("url"),
            F.concat(F.col("event_type"), F.lit(".example")).alias("host"),
            F.col("ts"),
        )

    base = tempfile.mkdtemp(prefix="ofs-stateful-q-")
    src_dir, out_dir, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    src(0).coalesce(1).write.parquet(src_dir)
    src(1).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("url string, host string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    run_available_now(stateful_host_rate(stream, min_gap_s=60.0), out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    w = Window.partitionBy("host").orderBy(F.col("n_fetched").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", "n_fetched", "n_violations")
    )


@_q("multimodal_feature_ann")  # rows-only: approximate retrieval pipeline
def multimodal_feature_ann(spark, sf_dir):
    """End-to-end multimodal similarity pipeline with a REAL feature
    stage: blob → L2-normalized byte-histogram embedding
    (functions/multimodal.byte_histogram_features — no codec libs needed)
    → exact-cosine top-3 retrieval (operators/similarity.py). The planted
    duplicates (same text bytes re-blobbed under query ids) must retrieve
    their source with cos ≈ 1."""
    from ..functions.multimodal import byte_histogram_features
    from ..operators.similarity import ann_bruteforce_topk

    d = _doc_urls(spark, sf_dir).select(
        "doc_id", "url", F.encode(F.col("text"), "UTF-8").alias("blob")
    )
    feats = (
        byte_histogram_features(d, "url", "blob")
        .filter(F.col("n_bytes") > 0)  # zero vectors have no cosine
        .join(d.select("doc_id", "url"), "url")
    )
    corpus = feats.select(
        F.col("doc_id").alias("vec_id"),
        F.col("feature").alias("embedding"),
    )
    queries_side = corpus.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return ann_bruteforce_topk(queries_side, corpus.unionByName(queries_side), k=3)


def _duck_be32_from_hex(hx_col: str, start: int) -> str:
    """SQL expression parsing a big-endian uint32 from 8 hex chars of a
    hex()'d blob, starting at 1-based char offset `start`. Pure SQL digit
    arithmetic (strpos over '123456789ABCDEF' maps '0'→0 … 'F'→15) — an
    independent byte-level parse, sharing no code with the Spark side."""
    return " + ".join(
        f"strpos('123456789ABCDEF', substr({hx_col}, {start + i}, 1))"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


def _duck_be_from_hex(hx_col: str, start: int, ndigits: int) -> str:
    """Big-endian unsigned int from `ndigits` hex chars of a hex()'d blob
    starting at 1-based char offset `start` — the width-generic form of
    _duck_be32_from_hex (JPEG SOF dimensions are big-endian uint16)."""
    return " + ".join(
        f"strpos('123456789ABCDEF', substr({hx_col}, {start + i}, 1))"
        f" * {16 ** (ndigits - 1 - i)}"
        for i in range(ndigits)
    )


from ..sources.fixtures import (
    GIF_ANIM_FIXTURE_PATH,
    GIF_FIXTURE_PATH,
    JPEG_EXIF_FIXTURE_PATH,
    JPEG_FIXTURE_PATH,
    PNG_FIXTURE_PATH,
    PNG_PALETTE_FIXTURE_PATH,
    PNG16_FIXTURE_PATH,
)


@_q(
    "multimodal_image_meta",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           CAST(octet_length(png) AS BIGINT) AS n_bytes,
           CASE WHEN substr(hex(png), 1, 16) = '89504E470D0A1A0A'
                THEN 'png' ELSE 'unknown' END AS format,
           CAST({_duck_be32_from_hex('hex(png)', 33)} AS INT) AS width,
           CAST({_duck_be32_from_hex('hex(png)', 41)} AS INT) AS height,
           1 AS n_frames
    FROM documents
    JOIN read_parquet('{PNG_FIXTURE_PATH}') USING (doc_id)
    """,
)
def multimodal_image_meta(spark, sf_dir):
    """B35 mapInPandas over an opaque binary column with a REAL decoder:
    the deterministic PNG fixture (sources/fixtures.py — one spec-valid
    zlib+CRC PNG per doc_id) is parsed by parse_png_meta, a structural
    byte parser. The oracle reads the SAME parquet bytes and extracts
    signature/width/height independently in SQL (hex() + digit
    arithmetic at the PNG spec's fixed IHDR offsets), so the driver row
    checks a genuine binary decode, not a shared formula."""
    from ..functions.multimodal import image_metadata

    from ..sources.fixtures import ensure_png_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    png = spark.read.parquet(ensure_png_fixture())
    # broadcast the metadata side; the blob column stays in its scan
    # partitions (no blob shuffle — the rule all blob plans here follow)
    joined = png.join(F.broadcast(d), "doc_id").select(
        "url", F.col("png").alias("blob")
    )
    return image_metadata(joined, "url", "blob").drop("sample_hash")


@_q(
    "multimodal_jpeg_meta",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           CAST(octet_length(jpeg) AS BIGINT) AS n_bytes,
           CASE WHEN substr(hex(jpeg), 1, 4) = 'FFD8'
                 AND substr(hex(jpeg), 179, 4) = 'FFC0'
                THEN 'jpeg' ELSE 'unknown' END AS format,
           CAST({_duck_be_from_hex('hex(jpeg)', 193, 4)} AS INT) AS width,
           CAST({_duck_be_from_hex('hex(jpeg)', 189, 4)} AS INT) AS height,
           1 AS n_frames
    FROM documents
    JOIN read_parquet('{JPEG_FIXTURE_PATH}') USING (doc_id)
    """,
)
def multimodal_jpeg_meta(spark, sf_dir):
    """B35 third media leg with a REAL decoder: the deterministic JFIF
    fixture (sources/fixtures.py — one structurally-valid baseline JPEG
    per doc_id, T.81 marker syntax via the real encode_jpeg) is parsed
    by parse_jpeg_meta, a marker walker that extracts dimensions from
    the SOF0 frame header exactly as image libraries do for .size. The
    oracle reads the SAME parquet bytes and re-extracts the SOI magic,
    the SOF0 marker, and the big-endian height/width at the encoder's
    canonical fixed offsets (SOI 2 + APP0 18 + DQT 69 puts SOF0 at byte
    89) independently in SQL — same non-circular pattern as the PNG and
    WAV legs. Blob plan rule holds: metadata side broadcast, blobs never
    shuffle."""
    from ..functions.multimodal import image_metadata
    from ..sources.fixtures import ensure_jpeg_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    jpg = spark.read.parquet(ensure_jpeg_fixture())
    joined = jpg.join(F.broadcast(d), "doc_id").select(
        "url", F.col("jpeg").alias("blob")
    )
    return image_metadata(joined, "url", "blob").drop("sample_hash")


@_q(
    "multimodal_png_pixels",
    f"""
    WITH p AS (
      SELECT doc_id, png,
             CAST({_duck_be32_from_hex('hex(png)', 33)} AS INT) AS width,
             CAST({_duck_be32_from_hex('hex(png)', 41)} AS INT) AS height
      FROM read_parquet('{PNG_FIXTURE_PATH}'))
    SELECT {_DOC_URL_SQL} AS url, width, height,
           CAST(width * height AS BIGINT) AS n_px,
           CAST(list_sum(list_transform(range(0, width * height),
                i -> (doc_id * 2654435761 + i * 40503) % 256)) AS BIGINT)
             AS sum_px,
           CAST(list_min(list_transform(range(0, width * height),
                i -> (doc_id * 2654435761 + i * 40503) % 256)) AS INT)
             AS min_px,
           CAST(list_max(list_transform(range(0, width * height),
                i -> (doc_id * 2654435761 + i * 40503) % 256)) AS INT)
             AS max_px
    FROM p JOIN documents USING (doc_id)
    """,
)
def multimodal_png_pixels(spark, sf_dir):
    """REAL pixel decode through the engine: decode_png_pixels
    zlib-inflates each fixture PNG's IDAT and unfilters it (RFC 2083 §6
    — the fixture rows are filter-0, but the decoder implements the full
    None/Sub/Up/Average/Paeth set, golden-tested on hand-filtered
    images), then numpy-reduces to per-image brightness stats — the
    shape of any real image-quality scorer in a training-data pipeline.
    Non-circular check: the oracle never inflates; it reads width/height
    from the PNG's IHDR bytes and recomputes the expected pixel stream
    from the fixture's GENERATIVE formula ((doc_id*2654435761 +
    idx*40503) mod 256 — sources/fixtures.png_payload) in exact BIGINT
    SQL. Spark's route is bytes → inflate → unfilter → reduce; the
    oracle's is formula → reduce. They agree only if the real
    decompression round-trips the real compression. Blob rule holds:
    mapInPandas, no shuffle."""
    from ..functions.multimodal import image_pixel_stats
    from ..sources.fixtures import ensure_png_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    png = spark.read.parquet(ensure_png_fixture())
    joined = png.join(F.broadcast(d), "doc_id").select(
        "url", F.col("png").alias("blob")
    )
    return image_pixel_stats(joined, "url", "blob")


@_q(
    "multimodal_png_palette",
    f"""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 64 AS w,
             1 + (doc_id * 7) % 48 AS h,
             doc_id % 3 AS arm
      FROM read_parquet('{PNG_PALETTE_FIXTURE_PATH}')),
    c AS (
      SELECT doc_id, w, h, arm,
        CASE WHEN arm = 2 THEN
          list_transform(range(0, w * h),
            i -> [(doc_id * 2654435761 + i * 40503) % 256])
        ELSE
          list_transform(range(0, w * h), i -> [
            (((doc_id * 2654435761 + i * 40503)
               % (CASE WHEN arm = 1 THEN 16 ELSE 256 END)) * 3) % 256,
            (((doc_id * 2654435761 + i * 40503)
               % (CASE WHEN arm = 1 THEN 16 ELSE 256 END)) * 5 + 1) % 256,
            (((doc_id * 2654435761 + i * 40503)
               % (CASE WHEN arm = 1 THEN 16 ELSE 256 END)) * 7 + 2) % 256])
        END AS px
      FROM p),
    f AS (SELECT doc_id, w, h, flatten(px) AS vals FROM c)
    SELECT {_DOC_URL_SQL} AS url,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(len(vals) AS BIGINT) AS n_px,
           CAST(list_sum(vals) AS BIGINT) AS sum_px,
           CAST(list_min(vals) AS INT) AS min_px,
           CAST(list_max(vals) AS INT) AS max_px
    FROM f JOIN documents USING (doc_id)
    """,
)
def multimodal_png_palette(spark, sf_dir):
    """Paletted + progressive PNG decode (VERDICT r3 #7) — the two
    real-crawl PNG shapes the base fixture lacked, through the same REAL
    decode_png_pixels stage: arm 0 is 256-color 8-bit paletted (PLTE
    lookup to RGB), arm 1 is 16-color 4-bit paletted (sub-byte MSB-first
    scanline packing), arm 2 is Adam7 progressive grayscale (seven
    independently-filtered sub-images scattered back by pass origin and
    stride, RFC 2083 §2.6). Non-circular lossless-subspace oracle: Spark
    inflates/unfilters/deinterlaces/palette-resolves real bytes; the SQL
    recomputes every pixel from the generative formulas (Knuth-hash
    index stream mod palette size; fixed (3j, 5j+1, 7j+2) mod 256
    palette; raw byte stream for the Adam7 arm) and reduces in exact
    BIGINT — agreement proves bit unpacking, PLTE resolution, and pass
    reassembly are all byte-exact. Blob rule holds: mapInPandas, blobs
    never shuffle; metadata side broadcast."""
    from ..functions.multimodal import image_pixel_stats
    from ..sources.fixtures import ensure_png_palette_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    png = spark.read.parquet(ensure_png_palette_fixture())
    joined = png.join(F.broadcast(d), "doc_id").select(
        "url", F.col("png").alias("blob")
    )
    return image_pixel_stats(joined, "url", "blob")


@_q(
    "multimodal_png16",
    f"""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 64 AS w,
             1 + (doc_id * 7) % 48 AS h,
             doc_id % 2 AS arm
      FROM read_parquet('{PNG16_FIXTURE_PATH}')),
    v AS (
      SELECT doc_id, w, h,
             list_transform(
               range(0, w * h * (CASE WHEN arm = 1 THEN 3 ELSE 1 END)),
               i -> (doc_id * 2654435761 + i * 40503) % 65536) AS vals
      FROM p)
    SELECT {_DOC_URL_SQL} AS url,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(len(vals) AS BIGINT) AS n_px,
           CAST(list_sum(vals) AS BIGINT) AS sum_px,
           CAST(list_min(vals) AS INT) AS min_px,
           CAST(list_max(vals) AS INT) AS max_px
    FROM v JOIN documents USING (doc_id)
    """,
)
def multimodal_png16(spark, sf_dir):
    """16-bit PNG decode (VERDICT r4 #5) — scientific/scanner-grade
    imagery in a real crawl corpus: 2-byte big-endian samples (RFC 2083
    §2.3 network byte order) through the SAME RFC 2083 unfilter path
    (filtering is byte-wise whatever the depth; the left-pixel distance
    is samples*2 bytes). Two arms by doc_id: 16-bit grayscale and 16-bit
    truecolor RGB, stats reduced over the raw uint16 sample values (not
    rescaled). Non-circular lossless-subspace oracle: Spark inflates +
    unfilters + byte-pairs real PNG bytes; the SQL recomputes every
    sample from the generative formula (Knuth hash mod 2^16) and reduces
    in exact BIGINT — a swapped byte order, a wrong filter distance, or
    a truncated sample pairing each shift sum_px. Blob rule holds:
    mapInPandas, blobs never shuffle; metadata side broadcast."""
    from ..functions.multimodal import image_pixel_stats
    from ..sources.fixtures import ensure_png16_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    png = spark.read.parquet(ensure_png16_fixture())
    joined = png.join(F.broadcast(d), "doc_id").select(
        "url", F.col("png").alias("blob")
    )
    return image_pixel_stats(joined, "url", "blob")


@_q(
    "multimodal_jpeg_exif",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           CAST(8 * (1 + doc_id % 4) AS INT) AS width,
           CAST(8 * (1 + (doc_id * 5) % 3) AS INT) AS height,
           CAST(CASE WHEN doc_id % 4 = 3 THEN 1
                     ELSE 1 + (doc_id * 7) % 8 END AS INT) AS orientation,
           CAST(FALSE AS BOOLEAN) AS progressive
    FROM read_parquet('{JPEG_EXIF_FIXTURE_PATH}')
    JOIN documents USING (doc_id)
    """,
)
def multimodal_jpeg_exif(spark, sf_dir):
    """EXIF orientation routing pass: real APP1 Exif segments (TIFF
    IFD0, Orientation tag 0x0112) parsed from the marker walk in BOTH
    byte orders (II little / MM big by doc parity), with every fourth
    doc carrying no EXIF and defaulting to orientation 1 — the
    pre-pixel decision every crawled phone photo needs before its
    pixels mean anything. Oracle re-derives orientation and the SOF
    dimensions from the generative fixture formulas; a byte-order mixup,
    a wrong IFD stride, or a missed default kills the hash. Narrow
    mapInPandas; blobs never shuffle."""
    from ..functions.multimodal import jpeg_exif_metadata
    from ..sources.fixtures import ensure_jpeg_exif_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    jp = spark.read.parquet(ensure_jpeg_exif_fixture())
    joined = jp.join(F.broadcast(d), "doc_id").select(
        "url", F.col("jpeg").alias("blob")
    )
    return jpeg_exif_metadata(joined, "url", "blob")


@_q(
    "multimodal_gif_pixels",
    f"""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 50 AS w,
             1 + (doc_id * 5) % 40 AS h
      FROM read_parquet('{GIF_FIXTURE_PATH}')),
    calc AS (
      SELECT doc_id, w, h,
             list_transform(range(0, w * h),
                 i -> (doc_id * 2654435761 + i * 40503) % 256) AS px
      FROM p)
    SELECT {_DOC_URL_SQL} AS url,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(list_sum(px) AS BIGINT) AS sum_px,
           CAST(list_min(px) AS INT) AS min_px,
           CAST(list_max(px) AS INT) AS max_px
    FROM calc JOIN documents USING (doc_id)
    """,
)
def multimodal_gif_pixels(spark, sf_dir):
    """REAL GIF decode through the engine: each fixture blob is a true
    GIF89a whose image data went through REAL LZW compression
    (functions/gifcodec.encode_gif), and image_pixel_stats recovers the
    pixels with decode_gif_pixels — block walk, variable-width LSB-first
    LZW decode (width bumps, CLEAR resets, KwKwK case), palette lookup —
    then numpy-reduces them. GIF is LOSSLESS, so no content restriction
    is needed: arbitrary formula pixels must round-trip bit-exactly.
    Non-circular check: the oracle never opens the blob — it recomputes
    every stat from the generative pixel formula in exact BIGINT SQL.
    Blob rule holds: mapInPandas, no blob shuffle."""
    from ..functions.multimodal import image_pixel_stats
    from ..sources.fixtures import ensure_gif_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    g = spark.read.parquet(ensure_gif_fixture())
    joined = g.join(F.broadcast(d), "doc_id").select(
        "url", F.col("gif").alias("blob")
    )
    return image_pixel_stats(joined, "url", "blob")


@_q(
    "multimodal_gif_meta",
    f"""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 50 AS w,
             1 + (doc_id * 5) % 40 AS h,
             1 + doc_id % 4 AS f
      FROM read_parquet('{GIF_ANIM_FIXTURE_PATH}'))
    SELECT {_DOC_URL_SQL} AS url,
           'GIF89a' AS version,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(f AS INT) AS n_frames,
           CAST(list_sum(list_transform(range(0, f),
                i -> 3 + (doc_id + 7 * i) % 12)) AS BIGINT) AS duration_cs
    FROM p JOIN documents USING (doc_id)
    """,
)
def multimodal_gif_meta(spark, sf_dir):
    """Animated-GIF accounting through the engine: each fixture blob is
    a REAL multi-frame GIF89a (one GCE + LZW-compressed frame per frame
    plus the NETSCAPE2.0 loop extension), and gif_metadata recovers
    frame count (image-descriptor walk) and total duration (GCE delay
    summation) — what a crawler needs to budget animated media.
    Non-circular check: the oracle never opens the blob — frame count
    and every per-frame delay are pure doc_id formulas
    (sources/fixtures.gif_anim_params), so the SQL recomputes
    duration_cs arithmetically. Blob rule holds: mapInPandas, no blob
    shuffle."""
    from ..functions.multimodal import gif_metadata
    from ..sources.fixtures import ensure_gif_anim_fixture

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    g = spark.read.parquet(ensure_gif_anim_fixture())
    joined = g.join(F.broadcast(d), "doc_id").select(
        "url", F.col("gif").alias("blob")
    )
    return gif_metadata(joined, "url", "blob")


# =========================================================================
# Round-3 batch 2: sitemap discovery, robots directive parsing, anchor-text
# aggregation, C4 quality filtering, boilerplate-paragraph dedup, inverted
# index, TF-IDF, snapshot diff — the crawl-discovery + training-data ops a
# 100 TB pipeline runs between fetch and tokenize.
# =========================================================================


@_q(
    "crawl_sitemap_entries",
    f"""
    SELECT doc_id, {_DOC_URL_SQL} AS loc,
           TIMESTAMP '2024-01-01 00:00:00'
             + ((doc_id // 60) % 60) * INTERVAL 1 MINUTE
             + (doc_id % 60) * INTERVAL 1 SECOND AS lastmod_ts,
           'daily' AS changefreq,
           CAST(doc_id % 10 AS DOUBLE) / 10 AS priority,
           false AS is_index
    FROM documents
    UNION ALL
    SELECT doc_id, {_DOC_URL_SQL} || '/extra' AS loc,
           CAST(NULL AS TIMESTAMP) AS lastmod_ts,
           CAST(NULL AS VARCHAR) AS changefreq,
           CAST(NULL AS DOUBLE) AS priority,
           false AS is_index
    FROM documents
    """,
)
def crawl_sitemap_entries(spark, sf_dir):
    """Sitemap <urlset> parsing (sitemaps.org protocol — the other crawl
    discovery format besides RSS/Atom): build a namespaced two-url sitemap
    per row (url 1 full: lastmod W3C-datetime + changefreq + priority;
    url 2 minimal: loc only, every optional field must surface as NULL),
    parse with the Arrow-batched UDF, explode. The oracle predicts the
    parse output algebraically from the construction — W3C datetime
    round-trip, float(priority) parity ('0.d' text vs d/10 double: both
    correctly-rounded), and optional-field nulling are all checked."""
    from ..functions.extract import parse_sitemap_udf

    d = _doc_urls(spark, sf_dir)
    mm = F.format_string("%02d", (F.floor(F.col("doc_id") / 60) % 60).cast("int"))
    ss = F.format_string("%02d", (F.col("doc_id") % 60).cast("int"))
    xml = F.concat(
        F.lit(
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<url><loc>"
        ),
        F.col("url"),
        F.lit("</loc><lastmod>2024-01-01T00:"),
        mm,
        F.lit(":"),
        ss,
        F.lit("Z</lastmod><changefreq>daily</changefreq><priority>0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url><url><loc>"),
        F.col("url"),
        F.lit("/extra</loc></url></urlset>"),
    )
    return d.select(
        "doc_id", F.explode(parse_sitemap_udf(xml)).alias("e")
    ).select(
        "doc_id",
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod_ts").alias("lastmod_ts"),
        F.col("e.changefreq").alias("changefreq"),
        F.col("e.priority").alias("priority"),
        F.col("e.is_index").alias("is_index"),
    )


@_q(
    "crawl_sitemap_index",
    f"""
    SELECT doc_id,
           {_DOC_URL_SQL} || '/sitemap-' || CAST(doc_id % 3 AS VARCHAR)
             || '.xml' AS loc,
           TIMESTAMP '2024-02-01 00:00:00'
             + (doc_id % 24) * INTERVAL 1 HOUR AS lastmod_ts,
           true AS is_index
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id, {_DOC_URL_SQL} || '/sitemap-extra.xml' AS loc,
           CAST(NULL AS TIMESTAMP) AS lastmod_ts,
           true AS is_index
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def crawl_sitemap_index(spark, sf_dir):
    """Sitemap <sitemapindex> parsing — index files point at child
    sitemaps and are what a 10^10-URL crawl actually receives from large
    hosts (the protocol caps one sitemap at 50k URLs, so big sites MUST
    nest). One index per doc_id%5 row with a dated child and an undated
    child; changefreq/priority are not index-entry fields so the parser
    must not leak them (schema carries them as always-NULL; projected out
    here)."""
    from ..functions.extract import parse_sitemap_udf

    d = _doc_urls(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    hh = F.format_string("%02d", (F.col("doc_id") % 24).cast("int"))
    xml = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"),
        F.col("url"),
        F.lit("/sitemap-"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".xml</loc><lastmod>2024-02-01T"),
        hh,
        F.lit(":00:00Z</lastmod></sitemap><sitemap><loc>"),
        F.col("url"),
        F.lit("/sitemap-extra.xml</loc></sitemap></sitemapindex>"),
    )
    return d.select(
        "doc_id", F.explode(parse_sitemap_udf(xml)).alias("e")
    ).select(
        "doc_id",
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod_ts").alias("lastmod_ts"),
        F.col("e.is_index").alias("is_index"),
    )


@_q(
    "crawl_sitemap_gzip",
    f"""
    WITH b AS (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents)
    SELECT doc_id, url AS loc,
           TIMESTAMP '2024-03-01 00:00:00'
             + (doc_id % 9) * INTERVAL 1 DAY AS lastmod_ts,
           CAST(doc_id % 10 AS DOUBLE) / 10 AS priority,
           doc_id % 2 = 0 AS was_gzip
    FROM b
    UNION ALL
    SELECT doc_id, url || '/gz' AS loc,
           CAST(NULL AS TIMESTAMP) AS lastmod_ts,
           CAST(NULL AS DOUBLE) AS priority,
           doc_id % 2 = 0 AS was_gzip
    FROM b
    """,
)
def crawl_sitemap_gzip(spark, sf_dir):
    """Gzipped sitemap ingest — sitemaps.org explicitly allows .xml.gz
    and large hosts ship it that way (the 50k-URL/50MB cap is measured
    on the UNCOMPRESSED file), so a real 10^10-URL crawl's sitemap
    fetch path sees gzip at least as often as plain XML. Fixture: the
    same urlset XML per page, gzipped (one deterministic RFC 1952
    member, reusing the WARC writer's fixed-header builder) for even
    doc_ids and left as plain UTF-8 bytes for odd — ONE query proves
    the parser's transparent-inflate path and that it changes nothing
    for plain input. The oracle predicts every parsed field
    algebraically from the construction (W3C lastmod round-trip,
    priority text→double, optional-field nulling on the minimal
    entry); compression must therefore be exactly invisible. Scale:
    fixture build and parse are narrow maps (mapInPandas + Arrow UDF),
    blobs never shuffle."""
    from ..functions.extract import parse_sitemap_udf
    from ..sources.warc import _gzip_member

    d = _doc_urls(spark, sf_dir)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            blobs = []
            for doc_id, url in zip(b["doc_id"], b["url"]):
                xml = (
                    "<urlset><url><loc>%s</loc>"
                    "<lastmod>2024-03-0%dT00:00:00Z</lastmod>"
                    "<priority>0.%d</priority></url>"
                    "<url><loc>%s/gz</loc></url></urlset>"
                    % (url, 1 + doc_id % 9, doc_id % 10, url)
                ).encode("utf-8")
                blobs.append(_gzip_member(xml) if doc_id % 2 == 0 else xml)
            yield pd.DataFrame({"doc_id": b["doc_id"], "blob": blobs})

    env = d.select("doc_id", "url").mapInPandas(
        build, "doc_id bigint, blob binary"
    )
    return env.select(
        "doc_id",
        F.explode(parse_sitemap_udf(F.col("blob"))).alias("e"),
    ).select(
        "doc_id",
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod_ts").alias("lastmod_ts"),
        F.col("e.priority").alias("priority"),
        (F.col("doc_id") % 2 == 0).alias("was_gzip"),
    )


@_q(
    "crawl_robots_parse",
    """
    WITH hosts AS (SELECT DISTINCT source AS host FROM documents)
    SELECT host, CAST(length(host) AS DOUBLE) AS crawl_delay,
           2 AS n_rules, '/private' AS first_prefix,
           0 AS sm_pos, 'http://' || host || '.example/sitemap.xml' AS sitemap
    FROM hosts
    UNION ALL
    SELECT host, CAST(length(host) AS DOUBLE) AS crawl_delay,
           2 AS n_rules, '/private' AS first_prefix,
           1 AS sm_pos, 'http://' || host || '.example/news/sitemap.xml' AS sitemap
    FROM hosts
    """,
)
def crawl_robots_parse(spark, sf_dir):
    """robots.txt TEXT parsing through the real RFC 9309 parser
    (operators/robots.parse_robots_txt via its Arrow-batched UDF): per
    host, a file with a bot-specific group (must be skipped under the
    default '*' agent), a '*' group carrying Disallow+Allow+Crawl-delay,
    comments, and two `Sitemap:` directives — one INSIDE the bot group to
    prove sitemaps are collected globally per the sitemaps.org spec, not
    per-group. Output explodes sitemaps with position. Scale: one-row-per-
    host parse, narrow; the parsed rules feed with_robots' broadcast."""
    from ..operators.robots import parse_robots_udf

    hosts = (
        T(spark, sf_dir, "documents")
        .select(F.col("source").alias("host"))
        .distinct()
    )
    txt = F.concat(
        F.lit(
            "# robots for "
        ),
        F.col("host"),
        F.lit(
            "\nUser-agent: special-bot\nDisallow: /\nSitemap: http://"
        ),
        F.col("host"),
        F.lit(
            ".example/sitemap.xml\n\nUser-agent: *\nDisallow: /private\n"
            "Allow: /private/ok\nCrawl-delay: "
        ),
        F.length("host").cast("string"),
        F.lit("\nSitemap: http://"),
        F.col("host"),
        F.lit(".example/news/sitemap.xml\n"),
    )
    parsed = hosts.select("host", parse_robots_udf()(txt).alias("p"))
    return parsed.select(
        "host",
        F.col("p.crawl_delay").alias("crawl_delay"),
        F.size("p.rules").alias("n_rules"),
        F.col("p.rules")[0]["prefix"].alias("first_prefix"),
        F.posexplode("p.sitemaps").alias("sm_pos", "sitemap"),
    )


@_q(
    "graph_anchor_text",
    f"""
    WITH refs AS (
      SELECT doc_id,
             'http://' || source || '.example/doc/'
               || CAST(doc_id + 1 AS VARCHAR) AS link,
             'doc ' || CAST(doc_id + 1 AS VARCHAR) || ' overview' AS anchor
      FROM documents
      UNION ALL
      SELECT doc_id,
             'http://' || source || '.example/doc/'
               || CAST(doc_id + 1 AS VARCHAR) AS link,
             'doc ' || CAST(doc_id + 1 AS VARCHAR) || ' overview' AS anchor
      FROM documents
      UNION ALL
      SELECT doc_id,
             'http://' || source || '.example/doc/'
               || CAST(doc_id + 2 AS VARCHAR) AS link,
             'click here' AS anchor
      FROM documents)
    SELECT link, COUNT(*) AS n_refs,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(DISTINCT anchor) AS n_anchor_variants,
           MIN(anchor) AS top_anchor
    FROM refs GROUP BY link
    """,
)
def graph_anchor_text(spark, sf_dir):
    """Per-target anchor-text aggregation — the classic web-graph signal
    (Brin & Page 1998 §2.2): anchors describe the TARGET page and are a
    standard retrieval / training-data enrichment input. Each page links
    twice to /doc/{id+1} with a descriptive anchor (duplicate occurrences
    must each count) and once to /doc/{id+2} with generic 'click here';
    relative hrefs resolve against the page's own host. Spark parses the
    REAL HTML through extract_anchors_udf; the oracle predicts the pairs
    algebraically and aggregates independently. Scale: one shuffle on the
    target link; outputs are bounded aggregates (counts + MIN), never
    collect_list — hot targets (the web's power-law inlinks) cannot blow
    a partition."""
    from ..functions.extract import extract_anchors_udf

    d = _doc_urls(spark, sf_dir)
    nxt1 = (F.col("doc_id") + 1).cast("string")
    nxt2 = (F.col("doc_id") + 2).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="/doc/'),
        nxt1,
        F.lit('">doc '),
        nxt1,
        F.lit(' overview</a> <a href="/doc/'),
        nxt2,
        F.lit('">click here</a> <a href="/doc/'),
        nxt1,
        F.lit('">doc '),
        nxt1,
        F.lit(" overview</a></body></html>"),
    )
    pairs = d.select(
        "doc_id", F.explode(extract_anchors_udf(html, F.col("url"))).alias("a")
    ).select("doc_id", F.col("a.link").alias("link"), F.col("a.anchor").alias("anchor"))
    return pairs.groupBy("link").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("anchor").alias("n_anchor_variants"),
        F.min("anchor").alias("top_anchor"),
    )


@_q(
    "text_c4_filter_chain",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    built AS (
      SELECT doc_id,
             array_to_string(ws[1:6], ' ') || '.' AS l1,
             array_to_string(ws[5:10], ' ') || '!' AS l5,
             array_to_string(ws[3:8], ' ') || '?' AS l6
      FROM w)
    SELECT b.doc_id,
           CASE WHEN b.doc_id % 17 = 0 AND b.doc_id % 19 = 0 THEN 8
                WHEN b.doc_id % 17 = 0 OR b.doc_id % 19 = 0 THEN 7
                ELSE 6 END AS n_lines,
           3 AS n_kept,
           l1 || chr(10) || l5 || chr(10) || l6 AS kept_text,
           CASE WHEN b.doc_id % 17 = 0 THEN 'brace'
                WHEN b.doc_id % 19 = 0 THEN 'lorem_ipsum'
                ELSE NULL END AS drop_reason,
           b.doc_id % 17 <> 0 AND b.doc_id % 19 <> 0 AS doc_kept
    FROM built b
    """,
)
def text_c4_filter_chain(spark, sf_dir):
    """C4 quality-filter chain (Raffel et al. 2020 §2.2) through the real
    JVM-native operator (functions/textstats.c4_quality_filter). The
    fixture page plants one line per rule: a short line (<5 words), an
    unpunctuated line, a 'javascript' line (each must be line-dropped),
    three clean lines (must survive), plus — on doc_id%17 / %19 rows — a
    '{'-code line / a 'lorem ipsum' line that must page-drop with the
    right reason and in the paper's precedence order. The oracle predicts
    the entire output from the construction — if any filter misfires on
    any row, kept_text or the reason hashes differ."""
    from ..functions.textstats import c4_quality_filter

    d = T(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    l1 = F.concat(F.array_join(F.slice(ws, 1, 6), " "), F.lit("."))
    l2 = F.concat(F.array_join(F.slice(ws, 7, 3), " "), F.lit("."))  # short
    l3 = F.array_join(F.slice(ws, 1, 5), " ")  # no terminal punct
    l4 = F.lit("please enable javascript to continue.")
    l5 = F.concat(F.array_join(F.slice(ws, 5, 6), " "), F.lit("!"))
    l6 = F.concat(F.array_join(F.slice(ws, 3, 6), " "), F.lit("?"))
    page = F.concat_ws("\n", l1, l2, l3, l4, l5, l6)
    page = F.when(
        F.col("doc_id") % 17 == 0, F.concat(page, F.lit("\nvar config = {"))
    ).otherwise(page)
    page = F.when(
        F.col("doc_id") % 19 == 0,
        # 4 words, unpunctuated: line-dropped by BOTH line rules, but the
        # page still contains the 'lorem ipsum' marker -> page-level drop
        F.concat(page, F.lit("\nlorem ipsum dolor sit")),
    ).otherwise(page)
    return c4_quality_filter(
        d.select("doc_id", page.alias("page")), id_col="doc_id", text_col="page"
    )


@_q(
    "dedup_exact_paragraphs",
    """
    WITH pars AS (
      SELECT doc_id, 'subscribe to our newsletter for updates' AS par
      FROM documents
      UNION ALL
      SELECT doc_id, 'copyright ' || source || ' all rights reserved' AS par
      FROM documents
      UNION ALL
      SELECT doc_id,
             array_to_string((string_split(text, ' '))[1:10], ' ') AS par
      FROM documents),
    agg AS (
      SELECT md5(par) AS par_md5, COUNT(*) AS n_occ,
             COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS min_doc_id
      FROM pars GROUP BY md5(par))
    SELECT * FROM agg WHERE n_occ >= 2
    """,
)
def dedup_exact_paragraphs(spark, sf_dir):
    """Paragraph-granular exact dedup — the boilerplate-removal primitive
    (site-wide footers/banners repeat across millions of pages; cf. the
    paragraph-hash dedup step in C4 §2.2 and CCNet). Each page carries a
    global boilerplate paragraph (must aggregate to n_docs = corpus), a
    per-source footer (n_docs = docs-per-source), and its content head
    (mostly unique, filtered by n_occ >= 2). Group key is md5(par) — the
    16-byte fingerprint shuffles, never the paragraph text; output is
    bounded aggregates. At 100 TB this is ONE shuffle on the hash with
    map-side partial aggregation."""
    d = T(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    pars = (
        d.select(
            "doc_id",
            F.lit("subscribe to our newsletter for updates").alias("par"),
        )
        .unionAll(
            d.select(
                "doc_id",
                F.concat(
                    F.lit("copyright "),
                    F.col("source"),
                    F.lit(" all rights reserved"),
                ).alias("par"),
            )
        )
        .unionAll(
            d.select("doc_id", F.array_join(F.slice(ws, 1, 10), " ").alias("par"))
        )
    )
    return (
        pars.select("doc_id", F.md5("par").alias("par_md5"))
        .groupBy("par_md5")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_occ") >= 2)
    )


@_q(
    "text_inverted_index",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    stats AS (
      SELECT term, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM toks GROUP BY term)
    SELECT term, tf_total, df, first_doc, last_doc, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rnk
          FROM stats)
    WHERE rnk <= 50
    """,
)
def text_inverted_index(spark, sf_dir):
    """Inverted-index dictionary build over the REAL corpus text: explode
    tokens, aggregate per term (collection tf, document df, posting-range
    min/max doc), rank by df. The per-term stats line is exactly a Lucene/
    search-engine dictionary row. Scale: explode is narrow; the term
    aggregation is one shuffle with map-side combine; output cardinality
    is the vocabulary (tiny vs corpus), so the final rank-window over the
    AGGREGATED rows costs nothing — at web scale swap the global window
    for the repo's two-phase top-k (operators/politeness.py pattern)."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf_total"),
        F.countDistinct("doc_id").alias("df"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return (
        stats.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 50)
    )


@_q(
    "text_tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Per-document top-3 terms by TF-IDF over the real corpus. The score
    is tf * N / df — the raw-count variant with a RATIONAL idf instead of
    log(N/df): one integer multiply + one IEEE division is bit-identical
    across engines, where log() is libm-dependent and would poison the
    value-hash (same monotone ranking per doc for fixed tf since N/df is
    decreasing in df). Scale: two aggregations with map-side combine; the
    vocabulary-sized df table broadcasts onto the (doc,term) side; the
    rank window partitions BY DOC so it parallelizes across the corpus —
    no global sort anywhere."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


@_q(
    "crawl_snapshot_diff",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           CASE WHEN doc_id % 11 = 0 THEN 'removed'
                WHEN doc_id % 7 = 0 THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM documents
    UNION ALL
    SELECT {_DOC_URL_SQL} || '/new' AS url, 'added' AS status
    FROM documents WHERE doc_id % 13 = 0
    """,
)
def crawl_snapshot_diff(spark, sf_dir):
    """Changed-page detection between two crawl snapshots — what drives
    recrawl scheduling (unchanged pages decay in priority; changed pages
    re-enter the frontier; cf. the TTL/recrawl operator). Snapshot B is
    derived from A by deleting doc_id%11 rows, rewriting doc_id%7 rows'
    content, and adding /new pages for doc_id%13; the diff is a full
    outer join on url comparing md5 content fingerprints — 16-byte
    fingerprints shuffle, never page bodies. The oracle predicts every
    verdict algebraically from the construction. Scale: fingerprinting is
    narrow map work at scan time; the join shuffles two fingerprint
    tables co-partitioned on url — at 10^10 URLs this is THE cheapest
    possible diff (no content movement)."""
    d = _doc_urls(spark, sf_dir)
    snap_a = d.select("url", F.md5("text").alias("fp"))
    snap_b = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select(
            "url",
            F.md5(
                F.when(
                    F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
                ).otherwise(F.col("text"))
            ).alias("fp"),
        )
        .unionAll(
            d.filter(F.col("doc_id") % 13 == 0).select(
                F.concat(F.col("url"), F.lit("/new")).alias("url"),
                F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("fp"),
            )
        )
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    return (
        a.join(b, F.col("a.url") == F.col("b.url"), "full_outer")
        .select(
            F.coalesce(F.col("a.url"), F.col("b.url")).alias("url"),
            F.when(F.col("a.fp").isNull(), "added")
            .when(F.col("b.fp").isNull(), "removed")
            .when(F.col("a.fp") != F.col("b.fp"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )


# =========================================================================
# Round-3 batch 3: head-metadata extraction, charset sniffing, WARC
# archive roundtrip, crawler-trap template mining, PII scrubbing, hashed
# linear quality scoring, corpus bigram-LM scoring, within-doc line dedup.
# =========================================================================


@_q(
    "crawl_html_meta",
    f"""
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           'about doc ' || CAST(doc_id AS VARCHAR) AS description,
           CASE WHEN doc_id % 6 = 0 THEN 'noindex' END AS robots_meta,
           {_DOC_URL_SQL} AS canonical,
           CASE WHEN doc_id % 3 = 0
                THEN 'OG ' || CAST(doc_id AS VARCHAR) END AS og_title,
           CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END AS lang
    FROM documents
    """,
)
def crawl_html_meta(spark, sf_dir):
    """<head> metadata extraction (title / description / robots meta /
    rel=canonical / og:title / html lang) through the real HTMLParser UDF.
    The fixture page is built algebraically — robots meta only on doc_id%6
    rows, og:title only on %3 rows (absent fields MUST surface as NULL,
    never ''), canonical is RELATIVE and must resolve against the page's
    own URL. Scale: narrow Arrow-batched map, no shuffle."""
    from ..functions.extract import extract_meta_udf

    d = _doc_urls(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html lang="'),
        F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de"),
        F.lit('"><head><title>Doc '),
        did,
        F.lit('</title><meta name="description" content="about doc '),
        did,
        F.lit('">'),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.lit('<meta name="robots" content="noindex">'),
        ).otherwise(F.lit("")),
        F.lit('<link rel="canonical" href="/doc/'),
        did,
        F.lit('">'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('<meta property="og:title" content="OG '), did, F.lit('">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body>body text</body></html>"),
    )
    m = extract_meta_udf(html, F.col("url"))
    return d.select(
        "doc_id",
        m["title"].alias("title"),
        m["description"].alias("description"),
        m["robots_meta"].alias("robots_meta"),
        m["canonical"].alias("canonical"),
        m["og_title"].alias("og_title"),
        m["lang"].alias("lang"),
    )


@_q(
    "crawl_charset_decode",
    """
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
                           WHEN 2 THEN 'iso-8859-1' ELSE 'utf-8' END
             AS charset,
           CASE doc_id % 4
             WHEN 0 THEN 'café doc ' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'wide doc ' || CAST(doc_id AS VARCHAR)
             WHEN 2 THEN '<meta charset="iso-8859-1">café doc '
                         || CAST(doc_id AS VARCHAR)
             ELSE 'plain doc ' || CAST(doc_id AS VARCHAR) || ' é'
           END AS text
    FROM documents
    """,
)
def crawl_charset_decode(spark, sf_dir):
    """Charset sniffing + decode (WHATWG order: BOM > meta-declared >
    utf-8 > latin-1) over REAL mixed-encoding bytes built with F.encode:
    utf-8 BOM rows, utf-16le BOM rows, meta-declared iso-8859-1 rows whose
    0xE9 byte is NOT valid utf-8 (proves the declaration is honored), and
    BOM-less utf-8 rows with a multi-byte char (proves content sniffing).
    The oracle predicts (charset, text) algebraically — any mis-sniff
    changes either column. Scale: narrow Arrow map at scan speed."""
    from ..functions.extract import sniff_decode_udf

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    raw = (
        F.when(
            m == 0,
            F.concat(
                F.unhex(F.lit("EFBBBF")),
                F.encode(F.concat(F.lit("café doc "), did), "UTF-8"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.unhex(F.lit("FFFE")),
                F.encode(F.concat(F.lit("wide doc "), did), "UTF-16LE"),
            ),
        )
        .when(
            m == 2,
            F.encode(
                F.concat(
                    F.lit('<meta charset="iso-8859-1">café doc '), did
                ),
                "ISO-8859-1",
            ),
        )
        .otherwise(
            F.encode(F.concat(F.lit("plain doc "), did, F.lit(" é")), "UTF-8")
        )
    )
    s = sniff_decode_udf(raw)
    return d.select(
        "doc_id", s["charset"].alias("charset"), s["text"].alias("text")
    )


@_q(
    "warc_roundtrip",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           TIMESTAMP '2024-03-01 00:00:00'
             + (doc_id % 1440) * INTERVAL 1 MINUTE AS warc_date,
           CAST(strlen(text) AS BIGINT) AS content_length,
           text
    FROM documents
    """,
)
def warc_roundtrip(spark, sf_dir):
    """WARC (ISO 28500) serialize -> parse roundtrip: pack the corpus into
    archive blobs (one per Arrow batch, built where the records live — the
    exact shape of a 1000-executor crawl writing shard files), then read
    them back. Output must reproduce every (url, timestamp, octet length,
    payload) exactly; the oracle predicts all four from the source table,
    so a single corrupted length or date kills the hash. Archives-per-
    partition varies with parallelism but record rows do not — the output
    is partitioning-independent. Scale: zero shuffle in either direction."""
    from ..sources.warc import read_warc, to_warc

    d = _doc_urls(spark, sf_dir)
    records = d.select(
        "url",
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(mins=(F.col("doc_id") % 1440).cast("int"))
        ).alias("warc_date"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    back = read_warc(to_warc(records))
    return back.select(
        "url",
        "warc_date",
        "content_length",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )


@_q(
    "crawl_warc_cdx",
    f"""
    WITH r AS (
      SELECT doc_id,
             doc_id // 100 AS shard,
             {_DOC_URL_SQL} AS url,
             octet_length(CAST(text AS BLOB)) AS L,
             sha256(text) AS digest
      FROM documents),
    s AS (
      SELECT *,
             107 + length(url) + length(CAST(L AS VARCHAR)) + L AS rec_len
      FROM r)
    SELECT CAST(shard AS BIGINT) AS shard,
           url,
           '20240301000000' AS cdx_ts,
           CAST(COALESCE(SUM(rec_len) OVER (
                  PARTITION BY shard ORDER BY url
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS "offset",
           CAST(rec_len AS BIGINT) AS record_length,
           digest
    FROM s
    """,
)
def crawl_warc_cdx(spark, sf_dir):
    """CDX indexing of WARC shards — the web-archive index replay tools
    (pywb / OpenWayback) and Common Crawl's own cc-index pipeline build:
    for every record in every shard file, (url, timestamp, byte offset,
    record length, payload digest). Two real stages: to_warc_sharded
    packs deterministic shard files (one shuffle on the size-bounded
    shard key — the production shard write), then cdx_index re-walks
    each archive's bytes with the length-driven record parser, tracking
    offsets, and sha256-digests each payload. Non-circular check: the
    oracle never builds or parses an archive — it PREDICTS every offset
    from the WARC grammar arithmetic (fixed header skeleton of 107 bytes
    + url length + content-length digit count + payload bytes, summed
    over the shard's url-ordered predecessors) and the digest via its
    own sha256. They agree only if the writer emits exactly the spec
    layout and the index walk finds the true record boundaries. Scale:
    shard composition is explicit (doc_id // 100), offsets are
    archive-relative, and indexing is a narrow map over the shard
    blobs."""
    from datetime import datetime as _dt

    from ..sources.warc import cdx_index, to_warc_sharded

    records = _doc_urls(spark, sf_dir).select(
        (F.col("doc_id") / 100).cast("long").alias("shard"),
        "url",
        F.lit(_dt(2024, 3, 1)).alias("warc_date"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return cdx_index(to_warc_sharded(records))


@_q(
    "crawl_warc_gzip",
    f"""
    WITH r AS (
      SELECT doc_id,
             doc_id // 100 AS shard,
             {_DOC_URL_SQL} AS url,
             octet_length(CAST(text AS BLOB)) AS L,
             sha256(text) AS digest
      FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           url,
           '20240301000000' AS cdx_ts,
           CAST(107 + length(url) + length(CAST(L AS VARCHAR)) + L AS BIGINT)
             AS inflated_length,
           CAST(L AS BIGINT) AS content_length,
           digest,
           TRUE AS member_demarcated
    FROM r
    """,
)
def crawl_warc_gzip(spark, sf_dir):
    """Gzip WARC (.warc.gz) — the actual Common-Crawl wire format
    (VERDICT r3 #4): record-per-gzip-member shard files written with
    to_warc_gz_sharded, then CDX-indexed by cdx_index_gz, whose member
    boundaries come from the RFC 1952 framing walk (zlib wbits=31 per
    member, ``unused_data`` = next member), never writer bookkeeping.
    Non-circular oracle, two independent routes per record: the DECODE
    route re-slices each shard blob at the scanner's compressed
    [offset, offset+length) and one-shot-inflates it (an off-by-one
    boundary fails the member's own CRC32/ISIZE trailer →
    member_demarcated=false), then reports the inflated record's length,
    declared Content-Length and payload sha256; the FORMULA route (the
    SQL) predicts inflated_length from the plain-WARC grammar arithmetic
    (107-byte skeleton + url length + content-length digit count +
    payload bytes) and the digest from its own sha256 over the source
    table — agreement proves writer layout, gzip member framing, boundary
    scan, and inflation all compose losslessly. Compressed offsets/sizes
    are NOT SQL-predictable (they depend on DEFLATE), so their exactness
    is carried by member_demarcated here and by byte-level pytest goldens
    (contiguity, sum(member lengths) == len(blob), interop with a
    whole-stream inflate fed to the plain parser). Scale: one shuffle on
    the size-bounded shard key; indexing is a narrow map over shard
    blobs; every record stays independently range-fetchable — exactly why
    Common Crawl ships this layout."""
    from datetime import datetime as _dt

    from ..sources.warc import cdx_index_gz, to_warc_gz_sharded

    records = _doc_urls(spark, sf_dir).select(
        (F.col("doc_id") / 100).cast("long").alias("shard"),
        "url",
        F.lit(_dt(2024, 3, 1)).alias("warc_date"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    idx = cdx_index_gz(to_warc_gz_sharded(records))
    return idx.select(
        "shard",
        "url",
        "cdx_ts",
        "inflated_length",
        "content_length",
        "digest",
        "member_demarcated",
    )


@_q(
    "crawl_cdx_fetch",
    f"""
    WITH r AS (
      SELECT doc_id,
             doc_id // 100 AS shard,
             {_DOC_URL_SQL} AS url,
             octet_length(CAST(text AS BLOB)) AS L,
             sha256(text) AS digest
      FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           url,
           TRUE AS fetch_ok,
           CAST(L AS BIGINT) AS content_length,
           digest,
           'response' AS warc_type
    FROM r WHERE length(url) % 3 = 0
    """,
)
def crawl_cdx_fetch(spark, sf_dir):
    """CDX random-access record fetch (VERDICT r4 #3) — the replay-tool
    read path over .warc.gz shards: pick a subset of CDX index rows,
    range-fetch exactly [offset, offset+record_length) compressed bytes
    out of each shard blob, inflate the single gzip member standalone
    (its own RFC 1952 CRC32/ISIZE trailer verifies the slice), and
    return the record (sources/warc.py fetch_records_gz). Non-circular:
    the engine route goes write → framing-walk index → filter → slice →
    inflate → record parse, six independent byte-level layers; the
    FORMULA route (the SQL) never touches an archive — it predicts which
    urls are requested (length(url) % 3), each record's declared
    Content-Length and payload sha256 straight from the source table. A
    CDX offset off by one byte, a member boundary mis-walked, or a slice
    returning the wrong record kills the hash. Compressed offsets
    themselves are DEFLATE-dependent (not SQL-predictable); their
    exactness is what the member's own CRC check enforces, plus
    byte-level interop tests in test_warc_gz. Scale: requests are tiny
    index rows BROADCAST to the shard blobs (ship the request to the
    data — on a real cluster this is an HTTP range request per row);
    blobs never cross an exchange; the fetch is a narrow mapInPandas
    where each blob lives."""
    from datetime import datetime as _dt

    from ..sources.warc import (
        cdx_index_gz,
        fetch_records_gz,
        to_warc_gz_sharded,
    )

    records = _doc_urls(spark, sf_dir).select(
        (F.col("doc_id") / 100).cast("long").alias("shard"),
        "url",
        F.lit(_dt(2024, 3, 1)).alias("warc_date"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    shards = to_warc_gz_sharded(records)
    reqs = cdx_index_gz(shards).filter(
        F.length("url") % 3 == 0
    ).select("shard", "offset", "record_length")
    fetched = fetch_records_gz(shards, reqs)
    return fetched.select(
        "shard",
        "url",
        "fetch_ok",
        "content_length",
        F.sha2(F.col("payload"), 256).alias("digest"),
        "warc_type",
    )


@_q(
    "crawl_wet_extract",
    f"""
    WITH d AS (
      SELECT doc_id,
             doc_id // 100 AS shard,
             {_DOC_URL_SQL} AS url,
             trim(regexp_replace(text, '\\s+', ' ', 'g')) AS extracted
      FROM documents
      WHERE lang = 'en' AND text NOT LIKE '%<%' AND text NOT LIKE '%&%'),
    s AS (
      SELECT *, octet_length(CAST(extracted AS BLOB)) AS L FROM d),
    r AS (
      SELECT *,
             135 + length(url) + length(CAST(L AS VARCHAR)) + L AS rec_len
      FROM s)
    SELECT CAST(shard AS BIGINT) AS shard,
           url,
           '20240301000000' AS cdx_ts,
           CAST(COALESCE(SUM(rec_len) OVER (
                  PARTITION BY shard ORDER BY url
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS "offset",
           CAST(rec_len AS BIGINT) AS record_length,
           sha256(extracted) AS digest
    FROM r
    """,
)
def crawl_wet_extract(spark, sf_dir):
    """WET generation — the derived text format Common Crawl publishes
    next to every WARC shard: boilerplate-strip each page, serialize the
    extracted text as `WARC-Type: conversion` / `Content-Type: text/plain`
    records (sources/warc.build_wet_py), pack deterministic WET shard
    files (to_wet_sharded, one shuffle on the size-bounded shard key),
    then CDX-index them with the type-agnostic length-driven record walk.
    Three real stages compose: HTML wrap -> extract_text_udf (Arrow-
    batched boilerplate stripping) -> WET serialization -> byte-offset
    indexing. Non-circular oracle, two independent routes: the ENGINE
    route derives every byte from the actual extractor output and the
    actual serializer/scanner; the FORMULA route (the SQL) predicts the
    extracted text algebraically (whitespace-collapsed source text — the
    lossless subspace the extraction fixture is built in), then predicts
    each record's length from the WET grammar arithmetic (135-byte
    conversion-record skeleton + url length + content-length digit count
    + payload bytes) and each offset as the url-ordered prefix sum within
    its shard, digesting the payload with its own sha256. A single wrong
    extracted byte, header byte, or boundary shifts every subsequent
    offset and kills the hash. Scale: extraction and indexing are narrow
    maps where the blobs live; the only shuffle is the explicit shard-key
    repartition the deterministic shard layout requires."""
    from datetime import datetime as _dt

    from ..functions.extract import extract_text_udf
    from ..sources.warc import cdx_index, to_wet_sharded

    d = _doc_urls(spark, sf_dir).filter(
        (F.col("lang") == "en")
        & ~F.col("text").like("%<%")
        & ~F.col("text").like("%&%")
    )
    html = F.encode(
        F.concat(
            F.lit(
                "<html><head><title>boiler</title><script>x=1</script></head>"
                "<body><nav>nav menu</nav><p>"
            ),
            F.col("text"),
            F.lit("</p><footer>foot</footer></body></html>"),
        ),
        "UTF-8",
    )
    records = d.select(
        (F.col("doc_id") / 100).cast("long").alias("shard"),
        "url",
        F.lit(_dt(2024, 3, 1)).alias("warc_date"),
        F.encode(extract_text_udf(html), "UTF-8").alias("payload"),
    )
    return cdx_index(to_wet_sharded(records))


@_q(
    "crawl_wat_extract",
    f"""
    WITH r AS (
      SELECT doc_id,
             doc_id // 100 AS shard,
             {_DOC_URL_SQL} AS url,
             'http://' || source || '.example/doc/'
               || CAST(doc_id + 1 AS VARCHAR) AS nxt,
             'http://' || source || '.example/rel/'
               || CAST(doc_id AS VARCHAR) AS rel
      FROM documents),
    j AS (
      SELECT *,
             '{{"links":["' || nxt || '","' || rel || '"],"url":"'
               || url || '"}}' AS wat
      FROM r),
    s AS (SELECT *, octet_length(CAST(wat AS BLOB)) AS L FROM j),
    t AS (
      SELECT *,
             139 + length(url) + length(CAST(L AS VARCHAR)) + L AS rec_len
      FROM s)
    SELECT CAST(shard AS BIGINT) AS shard,
           url,
           '20240301000000' AS cdx_ts,
           CAST(COALESCE(SUM(rec_len) OVER (
                  PARTITION BY shard ORDER BY url
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS "offset",
           CAST(rec_len AS BIGINT) AS record_length,
           sha256(wat) AS digest
    FROM t
    """,
)
def crawl_wat_extract(spark, sf_dir):
    """WAT generation — the third member of Common Crawl's derived-format
    trio (WARC response shards + WET extracted text + WAT per-page JSON
    metadata): extract each page's outlinks, assemble a canonical JSON
    metadata object ENTIRELY JVM-side (`F.to_json` over a struct — no
    Python in the JSON path), serialize as `WARC-Type: metadata` /
    `Content-Type: application/json` records (sources/warc.build_wat_py),
    pack deterministic WAT shards, CDX-index them. The link set runs
    through the REAL extractor (extract_links_udf: absolute link,
    relative link resolved against the page url, duplicate deduped
    first-wins) — the same route q:crawl_link_extract verifies
    element-wise. Non-circular oracle: the SQL rebuilds the exact JSON
    text from the link algebra by string concatenation, then predicts
    every record length from the WAT grammar arithmetic (139-byte
    metadata-record skeleton + url length + content-length digit count +
    payload bytes), offsets as url-ordered prefix sums, digest via its
    own sha256 — one wrong link, JSON byte, or boundary kills the hash.
    Scale: extraction and JSON assembly are narrow (one Arrow UDF, then
    codegen'd to_json); the only shuffle is the explicit shard-key
    repartition deterministic shard composition requires."""
    from datetime import datetime as _dt

    from ..functions.extract import extract_links_udf
    from ..sources.warc import cdx_index, to_wat_sharded

    d = _doc_urls(spark, sf_dir)
    nxt = F.concat(
        F.lit("http://"),
        F.col("source"),
        F.lit(".example/doc/"),
        (F.col("doc_id") + 1).cast("string"),
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        nxt,
        F.lit('">n</a><a href="/rel/'),
        F.col("doc_id").cast("string"),
        F.lit('">r</a><a href="'),
        nxt,
        F.lit('">dup</a></body></html>'),
    )
    wat = F.to_json(
        F.struct(
            extract_links_udf(html, F.col("url")).alias("links"),
            F.col("url").alias("url"),
        )
    )
    records = d.select(
        (F.col("doc_id") / 100).cast("long").alias("shard"),
        "url",
        F.lit(_dt(2024, 3, 1)).alias("warc_date"),
        F.encode(wat, "UTF-8").alias("payload"),
    )
    return cdx_index(to_wat_sharded(records))


@_q(
    "crawl_warc_revisit",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           CASE WHEN doc_id % 3 = 0 THEN 'response'
                ELSE 'revisit' END AS warc_type,
           CAST(CASE WHEN doc_id % 3 = 0
                THEN octet_length(CAST(text || ' v2' AS BLOB))
                ELSE 0 END AS BIGINT) AS content_length,
           CASE WHEN doc_id % 3 = 0 THEN 'sha256:' || sha256(text || ' v2')
                ELSE 'sha256:' || sha256(text) END AS digest
    FROM documents
    """,
)
def crawl_warc_revisit(spark, sf_dir):
    """WARC revisit records — how an incremental recrawl stores UNCHANGED
    pages (ISO 28500 §6.7.2, the mechanism Common Crawl and Heritrix use
    so that re-fetching 10^10 URLs where most pages didn't change does
    not re-store most payloads): changed pages (every third doc, content
    appended ' v2') are written as full `response` records; unchanged
    pages become zero-payload `revisit` records whose
    `WARC-Payload-Digest` points at the prior capture's content. Engine
    route is write-then-independent-read: a writer map mixes
    build_warc_py / build_revisit_py records into archive blobs, then a
    reader map re-walks the BYTES with the length-driven record parser
    and reports each record's type, stored payload length, and digest
    (recomputed by sha256 for response records, read from the header for
    revisit records). The oracle predicts all three per url from the
    doc_id arithmetic and its own sha256 — a wrong record type, a
    revisit that accidentally stored payload bytes, or a digest pointing
    at the wrong capture all kill the hash. Scale: both stages are
    narrow maps over blobs in place; the storage saved is exactly
    sum(unchanged text bytes), which at a 90 %-unchanged recrawl is the
    difference between re-writing 100 TB and writing 10 TB."""
    import hashlib

    from datetime import datetime as _dt

    from ..sources.warc import (
        _parse_warc_offsets,
        build_revisit_py,
        build_warc_py,
    )

    d = _doc_urls(spark, sf_dir).select("doc_id", "url", "text")
    ts = _dt(2024, 3, 2)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            blob = bytearray()
            for doc_id, url, text in zip(b["doc_id"], b["url"], b["text"]):
                if doc_id % 3 == 0:
                    blob += build_warc_py(
                        [(url, ts, (text + " v2").encode("utf-8"))]
                    )
                else:
                    old = hashlib.sha256(text.encode("utf-8")).hexdigest()
                    blob += build_revisit_py([(url, ts, "sha256:" + old)])
            yield pd.DataFrame({"archive": [bytes(blob)]})

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for blob in b["archive"]:
                for r in _parse_warc_offsets(blob):
                    if r["warc_type"] == "revisit":
                        digest = r["payload_digest"]
                    else:
                        digest = (
                            "sha256:"
                            + hashlib.sha256(r["payload"]).hexdigest()
                        )
                    rows.append(
                        {
                            "url": r["url"],
                            "warc_type": r["warc_type"],
                            "content_length": r["content_length"],
                            "digest": digest,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    archives = d.mapInPandas(write, "archive binary")
    return archives.mapInPandas(
        read, "url string, warc_type string, content_length bigint, "
        "digest string"
    )


_CRLF_SQL = "(chr(13) || chr(10))"
# sha256 of the fixed warcinfo warc-fields payload below (65 bytes)
_WINFO_SHA = "c7580078aedb1580e0a66ad7b12509db1a46894973ebd3a7e0b8b2bcd81a2fe3"


@_q(
    "crawl_warc_foreign",
    f"""
    WITH d AS (
      SELECT doc_id, source, text, {_DOC_URL_SQL} AS url,
             octet_length(CAST(text AS BLOB)) AS L
      FROM documents),
    resp AS (
      SELECT url, 'response' AS warc_type,
             CAST(62 + length(CAST(L AS VARCHAR)) + L AS BIGINT)
               AS content_length,
             'sha256:' || sha256('HTTP/1.1 200 OK' || {_CRLF_SQL}
               || 'Content-Type: text/html' || {_CRLF_SQL}
               || 'Content-Length: ' || CAST(L AS VARCHAR)
               || {_CRLF_SQL} || {_CRLF_SQL} || text) AS digest
      FROM d WHERE doc_id % 3 = 0),
    req AS (
      SELECT url, 'request' AS warc_type,
             CAST(38 + length(CAST(doc_id AS VARCHAR)) + length(source)
               AS BIGINT) AS content_length,
             'sha256:' || sha256('GET /doc/' || CAST(doc_id AS VARCHAR)
               || ' HTTP/1.1' || {_CRLF_SQL} || 'Host: ' || source
               || '.example' || {_CRLF_SQL} || {_CRLF_SQL}) AS digest
      FROM d WHERE doc_id % 3 = 0),
    rev AS (
      SELECT url, 'revisit' AS warc_type, CAST(0 AS BIGINT)
               AS content_length,
             'sha256:' || sha256(text) AS digest
      FROM d WHERE doc_id % 3 <> 0),
    winfo AS (
      SELECT CAST(NULL AS VARCHAR) AS url, 'warcinfo' AS warc_type,
             CAST(65 AS BIGINT) AS content_length,
             'sha256:{_WINFO_SHA}' AS digest
      FROM d WHERE doc_id % 50 = 0)
    SELECT * FROM resp UNION ALL SELECT * FROM req
    UNION ALL SELECT * FROM rev UNION ALL SELECT * FROM winfo
    """,
)
def crawl_warc_foreign(spark, sf_dir):
    """Foreign-WARC interop (VERDICT r4 #4): a real Common-Crawl capture
    group is `warcinfo` + paired `request`/`response` records (ISO 28500
    §6.2/6.4) with headers our writer never emits (WARC-Record-ID,
    WARC-Concurrent-To, WARC-IP-Address, Content-Type,
    WARC-Payload-Digest, WARC-Block-Digest) — this query HAND-ASSEMBLES
    such records as raw bytes (deliberately NOT via build_warc_py, so
    the reader is exercised against a foreign serialization), gzips each
    into its own member (the CC wire layout), and proves the typed
    record walk surfaces all four record types unmodified. Arms per doc:
    changed pages (doc_id % 3 = 0) get a request+response pair whose
    payloads are real HTTP envelopes; unchanged pages get zero-payload
    revisit records; every 50th doc leads with a warcinfo record
    (url-less, application/warc-fields payload). The oracle re-derives
    every record's type, declared Content-Length (fixed-skeleton
    arithmetic: request 38 + digits + source, response envelope 62 +
    digits(L) + L) and sha256 digest from the source table alone — an
    intolerant header walk, a mis-framed envelope, or a member boundary
    error each kill the hash. Scale: write and read are both narrow
    mapInPandas over blobs in place; tolerating foreign headers is what
    lets the same reader walk actual CC shards."""
    import hashlib

    from ..sources.warc import (
        _gzip_member,
        _parse_warc_offsets,
        _gz_member_offsets,
    )

    d = _doc_urls(spark, sf_dir).select("doc_id", "source", "url", "text")
    WINFO = (
        b"software: pyspark-feedcrawler/1.0\r\n"
        b"format: WARC File Format 1.0\r\n"
    )

    def rec(headers: list[bytes], payload: bytes) -> bytes:
        out = bytearray(b"WARC/1.0\r\n")
        for h in headers:
            out += h + b"\r\n"
        out += b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
        out += b"\r\n" + payload + b"\r\n\r\n"
        return bytes(out)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            blob = bytearray()
            for doc_id, source, url, text in zip(
                b["doc_id"], b["source"], b["url"], b["text"]
            ):
                rid = f"<urn:uuid:{int(doc_id):032d}>".encode()
                u = url.encode()
                date = b"WARC-Date: 2024-03-02T00:00:00Z"
                if doc_id % 50 == 0:
                    blob += _gzip_member(rec(
                        [
                            b"WARC-Type: warcinfo",
                            date,
                            b"WARC-Record-ID: " + rid,
                            b"Content-Type: application/warc-fields",
                            b"WARC-Filename: crawl-foreign.warc.gz",
                        ],
                        WINFO,
                    ))
                if doc_id % 3 == 0:
                    body = text.encode("utf-8")
                    reqp = (
                        b"GET /doc/" + str(int(doc_id)).encode()
                        + b" HTTP/1.1\r\nHost: " + source.encode()
                        + b".example\r\n\r\n"
                    )
                    resp = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                        b"Content-Length: " + str(len(body)).encode()
                        + b"\r\n\r\n" + body
                    )
                    blob += _gzip_member(rec(
                        [
                            b"WARC-Type: request",
                            b"WARC-Target-URI: " + u,
                            date,
                            b"WARC-Record-ID: " + rid,
                            b"WARC-IP-Address: 192.0.2.1",
                            b"Content-Type: application/http; "
                            b"msgtype=request",
                        ],
                        reqp,
                    ))
                    pdig = hashlib.sha256(body).hexdigest()
                    blob += _gzip_member(rec(
                        [
                            b"WARC-Type: response",
                            b"WARC-Target-URI: " + u,
                            date,
                            b"WARC-Record-ID: " + rid,
                            b"WARC-Concurrent-To: " + rid,
                            b"WARC-Payload-Digest: sha256:"
                            + pdig.encode(),
                            b"WARC-Block-Digest: sha256:unchecked",
                            b"Content-Type: application/http; "
                            b"msgtype=response",
                        ],
                        resp,
                    ))
                else:
                    old = hashlib.sha256(text.encode("utf-8")).hexdigest()
                    blob += _gzip_member(rec(
                        [
                            b"WARC-Type: revisit",
                            b"WARC-Target-URI: " + u,
                            date,
                            b"WARC-Record-ID: " + rid,
                            b"WARC-Payload-Digest: sha256:" + old.encode(),
                            b"WARC-Profile: http://netpreserve.org/warc/"
                            b"1.0/revisit/identical-payload-digest",
                        ],
                        b"",
                    ))
            yield pd.DataFrame({"archive": [bytes(blob)]})

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for blob in b["archive"]:
                for _o, _m, inflated in _gz_member_offsets(blob):
                    for r in _parse_warc_offsets(inflated):
                        if r["warc_type"] == "revisit":
                            digest = r["payload_digest"]
                        else:
                            digest = (
                                "sha256:"
                                + hashlib.sha256(r["payload"]).hexdigest()
                            )
                        rows.append(
                            {
                                "url": r["url"],
                                "warc_type": r["warc_type"],
                                "content_length": r["content_length"],
                                "digest": digest,
                            }
                        )
            if rows:
                yield pd.DataFrame(rows)

    archives = d.mapInPandas(write, "archive binary")
    return archives.mapInPandas(
        read, "url string, warc_type string, content_length bigint, "
        "digest string"
    )


@_q(
    "crawl_http_envelope",
    """
    SELECT doc_id,
           CAST(CASE doc_id % 5 WHEN 3 THEN 404 WHEN 4 THEN NULL
                ELSE 200 END AS INTEGER) AS status,
           CASE doc_id % 5 WHEN 3 THEN 'Not Found' WHEN 4 THEN NULL
                ELSE 'OK' END AS reason,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE 'text/html; charset=utf-8' END AS content_type,
           doc_id % 5 <> 4 AS http_ok,
           CASE WHEN doc_id % 5 = 4 THEN NULL ELSE text END AS body_text
    FROM documents
    """,
)
def crawl_http_envelope(spark, sf_dir):
    """HTTP response envelope decode — the layer between a real
    Common-Crawl WARC response record and its HTML payload
    (sources/httpresp.py): status line + header block parse, RFC 9112
    chunked transfer-coding removal, RFC 9110 gzip content-coding
    removal, in that order (transport framing before representation
    coding). Fixture arms per doc: identity framing with Content-Length,
    chunked with a doc-varying chunk size, gzip content-encoding, a 404
    with a reason phrase, and a torn envelope that MUST quarantine to
    http_ok=false nulls rather than fail the stage. Non-circular check:
    the engine route builds each envelope byte-for-byte (encoder) and
    decodes it back (parser); the FORMULA route (the SQL) never touches
    an envelope — it predicts status/reason/content-type/body directly
    from the arm arithmetic and the source text, so a single mis-framed
    chunk, misapplied coding order, or swallowed malformation flips the
    hash. Scale: both stages are narrow mapInPandas over the blobs in
    place — no shuffle, no blob movement, one bad record never kills a
    100 TB stage."""
    from ..sources.httpresp import (
        build_http_response_py,
        parse_http_responses,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            payloads = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                body = text.encode("utf-8")
                arm = doc_id % 5
                if arm == 1:
                    p = build_http_response_py(
                        body, mode="chunked", chunk_size=int(5 + doc_id % 11)
                    )
                elif arm == 2:
                    p = build_http_response_py(body, mode="gzip")
                elif arm == 3:
                    p = build_http_response_py(
                        body, status=404, reason="Not Found"
                    )
                elif arm == 4:
                    p = build_http_response_py(body)[:10]  # torn envelope
                else:
                    p = build_http_response_py(body)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    env = d.mapInPandas(build, "doc_id bigint, payload binary")
    parsed = parse_http_responses(env)
    return parsed.select(
        "doc_id",
        "status",
        "reason",
        "content_type",
        "http_ok",
        F.decode(F.col("body"), "UTF-8").alias("body_text"),
    )


@_q(
    "crawl_url_template_mining",
    f"""
    WITH urls AS (
      SELECT source AS host, {_DOC_URL_SQL} AS url FROM documents
      UNION ALL
      SELECT source AS host,
             'http://' || source || '.example/cal/2024/'
               || CAST(doc_id % 12 + 1 AS VARCHAR) || '/'
               || CAST(doc_id % 28 + 1 AS VARCHAR) AS url
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT source AS host,
             'http://' || source || '.example/page?sid='
               || md5(CAST(doc_id AS VARCHAR)) AS url
      FROM documents WHERE doc_id % 5 = 0)
    SELECT host,
           regexp_replace(regexp_replace(url, '[0-9a-f]{{8,}}', '{{h}}', 'g'),
                          '[0-9]+', '{{n}}', 'g') AS template,
           COUNT(DISTINCT url) AS n_urls, COUNT(*) AS n_pages
    FROM urls GROUP BY 1, 2
    """,
)
def crawl_url_template_mining(spark, sf_dir):
    """URL template mining for crawler-trap detection (Mercator's trap
    heuristics, Heydon & Najork 1999, public): collapse hex runs to {h}
    and digit runs to {n}, aggregate per (host, template). Calendar pages
    and session-id URLs — infinite URL spaces over finite content — each
    collapse to ONE template whose distinct-URL count exposes them, which
    is how a frontier caps trap growth before fetching it. Scale: the
    template map is narrow JVM regexp; ONE shuffle on (host, template)
    with map-side combine; output cardinality = templates (tiny)."""
    from ..functions.urlnorm import url_template

    d = _doc_urls(spark, sf_dir)
    urls = (
        d.select(F.col("source").alias("host"), "url")
        .unionAll(
            d.filter(F.col("doc_id") % 4 == 0).select(
                F.col("source").alias("host"),
                F.concat(
                    F.lit("http://"), F.col("source"), F.lit(".example/cal/2024/"),
                    (F.col("doc_id") % 12 + 1).cast("string"), F.lit("/"),
                    (F.col("doc_id") % 28 + 1).cast("string"),
                ).alias("url"),
            )
        )
        .unionAll(
            d.filter(F.col("doc_id") % 5 == 0).select(
                F.col("source").alias("host"),
                F.concat(
                    F.lit("http://"), F.col("source"), F.lit(".example/page?sid="),
                    F.md5(F.col("doc_id").cast("string")),
                ).alias("url"),
            )
        )
    )
    return urls.groupBy(
        "host", url_template(F.col("url")).alias("template")
    ).agg(
        F.countDistinct("url").alias("n_urls"),
        F.count(F.lit(1)).alias("n_pages"),
    )


@_q(
    "text_pii_scrub",
    r"""
    WITH pages AS (
      SELECT doc_id,
             text || ' contact admin' || CAST(doc_id AS VARCHAR) || '@crawl'
                  || CAST(doc_id % 7 AS VARCHAR) || '.example now.'
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' server 10.' || CAST(doc_id % 256 AS VARCHAR)
                               || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                               || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                          ELSE '' END
                  || CASE WHEN doc_id % 5 = 0
                          THEN ' call +1-555-'
                               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END AS page
      FROM documents),
    s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(page,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
             regexp_replace(page,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                 '[EMAIL]', 'g') AS t1
      FROM pages),
    s2 AS (
      SELECT doc_id, n_emails,
             len(regexp_extract_all(t1,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                 '[IP]', 'g') AS t2
      FROM s1)
    SELECT doc_id,
           regexp_replace(t2, '\+\d{1,3}-\d{3}-\d{4}', '[PHONE]', 'g')
             AS scrubbed,
           CAST(n_emails AS INT) AS n_emails, CAST(n_ips AS INT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '\+\d{1,3}-\d{3}-\d{4}')) AS INT)
             AS n_phones,
           n_emails + n_ips
             + len(regexp_extract_all(t2, '\+\d{1,3}-\d{3}-\d{4}')) > 0
             AS had_pii
    FROM s2
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / phone numbers) — the standard
    pre-training scrub (cf. BigScience ROOTS, public), through the
    JVM-native pii_scrub operator. Fixture pages plant an email on every
    row, an IP on %3 rows and a phone on %5 rows ON TOP of the real corpus
    text; the oracle runs the SAME regexes independently in RE2, so the
    patterns themselves are cross-engine-verified, not just the plumbing.
    Scale: pure narrow regexp map at scan speed, zero Python."""
    from ..functions.textstats import pii_scrub

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.col("text"),
        F.lit(" contact admin"), did.cast("string"), F.lit("@crawl"),
        (did % 7).cast("string"), F.lit(".example now."),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" server 10."), (did % 256).cast("string"), F.lit("."),
                ((did * 7) % 256).cast("string"), F.lit("."),
                ((did * 13) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return pii_scrub(d.select("doc_id", page.alias("page")), text_col="page")


@_q(
    "text_quality_linear_score",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    w AS (
      SELECT doc_id, tf,
             CAST(('0x' || substr(md5(term), 1, 6)) AS BIGINT) % 1000 - 500
               AS wm
      FROM tf)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_terms,
           CAST(SUM(tf * wm) AS BIGINT) AS score_milli,
           CAST(SUM(tf * wm) AS DOUBLE) / 1000 AS score,
           SUM(tf * wm) >= 0 AS label
    FROM w GROUP BY doc_id
    """,
)
def text_quality_linear_score(spark, sf_dir):
    """Hashed bag-of-words linear quality scorer (the fasttext-style
    hashing trick, Weinberger et al. 2009) with md5-derived integer
    weights: score_milli is EXACT int64 in any addition order — the only
    IEEE op is the final /1000 — so a distributed sum is bit-identical to
    the oracle's serial one. The real use swaps md5-weights for trained
    ones; every plan property (no model broadcast, one combine-enabled
    shuffle) is the production shape."""
    from ..functions.textstats import linear_quality_score

    return linear_quality_score(T(spark, sf_dir, "documents"))


@_q(
    "text_bigram_lm_score",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    occ AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg, ws[i] AS prefix
      FROM w, UNNEST(range(1, len(ws))) AS t(i)),
    bgc AS (SELECT bg, COUNT(*) AS bg_n FROM occ GROUP BY bg),
    toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    ugc AS (SELECT term, COUNT(*) AS ug_n FROM toks GROUP BY term)
    SELECT o.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(bgc.bg_n) AS BIGINT) AS sum_bg,
           CAST(SUM(ugc.ug_n) AS BIGINT) AS sum_prefix,
           CAST(SUM(bgc.bg_n) AS DOUBLE) / SUM(ugc.ug_n) AS score
    FROM occ o
    JOIN bgc USING (bg) JOIN ugc ON o.prefix = ugc.term
    GROUP BY o.doc_id
    """,
)
def text_bigram_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM predictability per document — the CCNet
    LM quality gate (Wenzek et al. 2020) with a rational score instead of
    log-prob so the value hash is engine-stable (both sums are exact
    int64; ONE IEEE division). High score = common word transitions
    (boilerplate), low = gibberish. Scale: bigram/unigram count tables are
    vocabulary-sized and BROADCAST onto the occurrence stream; only the
    per-doc agg shuffles the corpus."""
    from ..functions.textstats import bigram_lm_stats

    return bigram_lm_stats(T(spark, sf_dir, "documents"))


@_q(
    "dedup_within_doc_lines",
    """
    WITH pages AS (
      SELECT doc_id,
             -- COALESCE: DuckDB's array_to_string([]) is NULL where
             -- Spark's array_join([]) is '' — short docs must not null out
             'subscribe to our newsletter today.' || chr(10)
               || 'p1: ' || COALESCE(
                    array_to_string((string_split(text, ' '))[1:5], ' '), '')
               || chr(10) || 'subscribe to our newsletter today.' || chr(10)
               || 'p2: ' || COALESCE(
                    array_to_string((string_split(text, ' '))[6:10], ' '), '')
               || chr(10)
               || 'p3: ' || COALESCE(
                    array_to_string((string_split(text, ' '))[11:15], ' '), '')
               || chr(10) || 'subscribe to our newsletter today.' AS page
      FROM documents),
    l AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pages),
    lines AS (
      SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, ls[i] AS line, i AS pos
      FROM l, UNNEST(range(1, len(ls) + 1)) AS t(i)),
    first AS (
      SELECT doc_id, MIN(n_lines) AS n_lines, line, MIN(pos) AS pos
      FROM lines GROUP BY doc_id, line)
    SELECT doc_id, MIN(n_lines) AS n_lines, COUNT(*) AS n_unique,
           string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
    FROM first GROUP BY doc_id
    """,
)
def dedup_within_doc_lines(spark, sf_dir):
    """WITHIN-document repeated-line removal (keep first occurrence,
    preserve document order) — the intra-doc counterpart of
    dedup_exact_paragraphs: nav blocks repeat inside one page just like
    footers repeat across pages. The fixture interleaves one boilerplate
    line three times among content lines; the ORACLE IS GENERAL (it
    dedups in SQL, not algebraically), so it verifies the operator on any
    input, including corpus text that happens to collide. Scale: both
    aggs shuffle on the same key (one exchange after AQE); collect_list
    is bounded per document."""
    from ..functions.textstats import dedup_doc_lines

    d = T(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    boiler = F.lit("subscribe to our newsletter today.")
    page = F.concat_ws(
        "\n",
        boiler,
        F.concat(F.lit("p1: "), F.array_join(F.slice(ws, 1, 5), " ")),
        boiler,
        F.concat(F.lit("p2: "), F.array_join(F.slice(ws, 6, 5), " ")),
        F.concat(F.lit("p3: "), F.array_join(F.slice(ws, 11, 5), " ")),
        boiler,
    )
    return dedup_doc_lines(
        d.select("doc_id", page.alias("page")), text_col="page"
    )


@_q(
    "crawl_redirect_resolve",
    """
    WITH f AS (
      SELECT 'http://redir.example/doc/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    r AS (
      SELECT 'http://redir.example/doc/' || CAST(doc_id AS VARCHAR) AS src,
             'http://redir.example/doc/' || CAST(
               (doc_id * 3 + 1) % (SELECT COUNT(*) FROM documents)
               AS VARCHAR) AS dst
      FROM documents WHERE doc_id % 5 < 2),
    h0 AS (SELECT url, url AS cur, 0 AS hops FROM f),
    h1 AS (SELECT h.url, COALESCE(r.dst, h.cur) AS cur,
                  h.hops + CASE WHEN r.dst IS NULL THEN 0 ELSE 1 END AS hops
           FROM h0 h LEFT JOIN r ON r.src = h.cur),
    h2 AS (SELECT h.url, COALESCE(r.dst, h.cur) AS cur,
                  h.hops + CASE WHEN r.dst IS NULL THEN 0 ELSE 1 END AS hops
           FROM h1 h LEFT JOIN r ON r.src = h.cur),
    h3 AS (SELECT h.url, COALESCE(r.dst, h.cur) AS cur,
                  h.hops + CASE WHEN r.dst IS NULL THEN 0 ELSE 1 END AS hops
           FROM h2 h LEFT JOIN r ON r.src = h.cur)
    SELECT h.url, h.cur AS final_url, CAST(h.hops AS INT) AS n_hops,
           (r.src IS NULL) AS resolved
    FROM h3 h LEFT JOIN r ON r.src = h.cur
    """,
)
def crawl_redirect_resolve(spark, sf_dir):
    """HTTP 3xx redirect-chain resolution before frontier dedup
    (operators/frontier.resolve_redirects): a synthetic Location map where
    40 % of URLs redirect to (3·id+1) mod N, so real multi-hop chains,
    converging aliases AND loops all occur; the walk is bounded at 3 hops
    (RFC 9110 §15.4 redirect caps) and rows still pointing at a redirect
    source after 3 hops come back resolved=false (trap/loop candidates).
    Dedup on the RESOLVED URL is what stops a moved page from being
    fetched once per alias. Oracle: the same bounded walk as unrolled
    left-join CTEs. Scale: 4 hash joins of the narrow frontier against
    the (usually tiny, AQE-broadcast) redirect map — no content columns
    move, loops cannot diverge (hop-bounded by construction)."""
    from ..operators.frontier import resolve_redirects

    docs = T(spark, sf_dir, "documents")
    cnt = docs.count()

    def u(c):
        return F.concat(F.lit("http://redir.example/doc/"), c.cast("string"))

    frontier = docs.select(u(F.col("doc_id")).alias("url"))
    redirects = docs.filter(F.col("doc_id") % 5 < 2).select(
        u(F.col("doc_id")).alias("src"),
        u((F.col("doc_id") * 3 + 1) % cnt).alias("dst"),
    )
    out = resolve_redirects(frontier, redirects, max_hops=3)
    return out.select(
        "url",
        "final_url",
        F.col("n_hops").cast("int").alias("n_hops"),
        "resolved",
    )


@_q(
    "crawl_conditional_get",
    f"""
    SELECT {_DOC_URL_SQL} AS url,
           CAST((doc_id * 7) % 1000 AS BIGINT) AS age_secs,
           CASE WHEN (doc_id * 7) % 1000 < 100 + (doc_id % 7) * 100
                  THEN 'fresh'
                WHEN md5(text) = (CASE WHEN doc_id % 3 <> 0 THEN md5(text)
                                       ELSE md5(text || '!') END)
                  THEN 'not_modified'
                ELSE 'refetch' END AS decision
    FROM documents
    """,
)
def crawl_conditional_get(spark, sf_dir):
    """Conditional-GET recrawl planning (RFC 9110 §13.1):
    operators/frontier.recrawl_decisions runs the fresh / not_modified /
    refetch ladder over a page inventory whose ages, TTLs and live ETags
    are synthesized deterministically (age=(7·id)%1000, TTL=100+100·(id%7),
    content changed iff id%3==0). The ETag comparison is REAL on both
    sides — Spark compares md5(text) columns and the oracle recomputes the
    same md5s in DuckDB — so the check verifies the comparison machinery,
    not just the CASE shape. Scale: pure map-side column arithmetic, zero
    shuffles; TTL freshness prunes the fetch set BEFORE politeness spends
    budget on it, and 304 revalidations never shuffle a body."""
    from ..operators.frontier import recrawl_decisions

    d = _doc_urls(spark, sf_dir)
    inv = d.select(
        "url",
        "doc_id",
        (F.lit(1000000) - (F.col("doc_id") * 7) % 1000)
        .cast("long")
        .alias("last_fetch_ts"),
        F.md5("text").alias("etag_stored"),
        F.when(F.col("doc_id") % 3 != 0, F.md5("text"))
        .otherwise(F.md5(F.concat(F.col("text"), F.lit("!"))))
        .alias("etag_live"),
    )
    out = recrawl_decisions(
        inv,
        now_ts=F.lit(1000000),
        ttl_secs=(F.lit(100) + (F.col("doc_id") % 7) * 100),
    )
    return out.select("url", F.col("age_secs").cast("long").alias("age_secs"), "decision")


@_q(
    "crawl_adaptive_budget",
    """
    WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
    k AS (SELECT host, ascii(right(host, 1)) - 48 AS k FROM hosts),
    b1 AS (SELECT host, k,
                  CASE WHEN (k + 0) % 5 = 0 THEN 10
                       WHEN (k * 2) % 25 >= 10 THEN greatest(1, 10 // 2)
                       ELSE least(500, 10 + 5) END AS budget
           FROM k),
    b2 AS (SELECT host, k,
                  CASE WHEN (k + 1) % 5 = 0 THEN budget
                       WHEN (k * 3) % 25 >= 10
                         THEN greatest(1, budget // 2)
                       ELSE least(500, budget + 5) END AS budget
           FROM b1),
    b3 AS (SELECT host, k,
                  CASE WHEN (k + 2) % 5 = 0 THEN budget
                       WHEN (k * 4) % 25 >= 10
                         THEN greatest(1, budget // 2)
                       ELSE least(500, budget + 5) END AS budget
           FROM b2)
    SELECT host, CAST(budget AS INT) AS budget FROM b3
    """,
)
def crawl_adaptive_budget(spark, sf_dir):
    """AIMD per-host politeness adaptation over three crawl rounds
    (operators/frontier.adaptive_budget_round): error rate ≥10 % halves
    the host's budget (multiplicative decrease), a healthy round adds 5
    (additive increase, capped), and a host with no traffic that round
    keeps its budget — the TCP congestion-avoidance shape per-host rate
    controllers converge to (overloaded hosts emit 429/5xx; halving backs
    off fast, +step probes back up). Round stats are synthesized from the
    host name (k = last digit): n_fetched=100, n_errors=(k·(r+2))%25,
    absent when (k+r)%5==0, so all three CASE arms fire across hosts.
    All-integer arithmetic — the oracle unrolls the identical ladder.
    Scale: per round one narrow hash join (hosts × per-host aggregated
    stats) + map-side CASE; nothing frontier-sized is touched."""
    from ..operators.frontier import adaptive_budget_round

    hosts = (
        T(spark, sf_dir, "documents")
        .select(F.col("source").alias("host"))
        .distinct()
    )
    k = F.ascii(F.substring(F.col("host"), -1, 1)) - 48
    budgets = hosts.withColumn("budget", F.lit(10).cast("int"))
    for r in range(3):
        stats = hosts.filter((k + r) % 5 != 0).select(
            "host",
            F.lit(100).alias("n_fetched"),
            ((k * (r + 2)) % 25).alias("n_errors"),
        )
        budgets = adaptive_budget_round(budgets, stats)
    return budgets


@_q(
    "crawl_host_pld",
    """
    WITH h AS (
      SELECT CASE doc_id % 8
               WHEN 0 THEN 'www.' || source || '.com'
               WHEN 1 THEN source || '.co.uk'
               WHEN 2 THEN 'a.b.' || source || '.github.io'
               WHEN 3 THEN source || '.internal'
               WHEN 4 THEN 'sub.' || source || '.org'
               WHEN 5 THEN CASE (doc_id // 8) % 2
                             WHEN 0 THEN 'x.' || source || '.ck'
                             ELSE 'a.x.' || source || '.ck' END
               WHEN 6 THEN source || '.ck'
               ELSE CASE (doc_id // 8) % 2
                      WHEN 0 THEN 'www.ck'
                      ELSE 'x.www.ck' END END AS host,
             CASE doc_id % 8
               WHEN 0 THEN source || '.com'
               WHEN 1 THEN source || '.co.uk'
               WHEN 2 THEN source || '.github.io'
               WHEN 3 THEN source || '.internal'
               WHEN 4 THEN source || '.org'
               WHEN 5 THEN 'x.' || source || '.ck'
               WHEN 6 THEN source || '.ck'
               ELSE 'www.ck' END AS pld
      FROM documents)
    SELECT host, pld, COUNT(*) AS n_urls FROM h GROUP BY host, pld
    """,
)
def crawl_host_pld(spark, sf_dir):
    """Registrable-domain (pay-level-domain) extraction per the FULL
    publicsuffix.org algorithm (functions/urlnorm.registrable_domain):
    hosts are synthesized across every structural rule class — plain gTLD
    with a www subdomain, country second-level suffix (co.uk),
    private-registry suffix with deep subdomains (a.b.*.github.io), an
    unknown TLD that must fall back to the host itself, wildcard-rule
    hosts at two depths ('*.ck': x.<s>.ck and a.x.<s>.ck both resolve to
    the label-deeper PLD), a host that IS a wildcard public suffix
    (<s>.ck -> itself), and the exception rule ('!www.ck': www.ck and
    x.www.ck both resolve to www.ck, prevailing over the wildcard). The
    ORACLE predicts each PLD algebraically from the construction —
    independent of the rule-matching code. Politeness/salting by PLD
    instead of raw host is what stops a wildcard-subdomain spam farm from
    multiplying its politeness quota by inventing hosts — the wildcard
    rule class is exactly that shape. Scale: pure codegen'd string ops
    per row (no UDF, no join); the aggregate is one narrow shuffle on
    (host, pld)."""
    from ..functions.urlnorm import registrable_domain

    d = T(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    alt = (F.col("doc_id") / 8).cast("long") % 2
    host = (
        F.when(m == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".com")))
        .when(m == 1, F.concat(F.col("source"), F.lit(".co.uk")))
        .when(m == 2, F.concat(F.lit("a.b."), F.col("source"), F.lit(".github.io")))
        .when(m == 3, F.concat(F.col("source"), F.lit(".internal")))
        .when(m == 4, F.concat(F.lit("sub."), F.col("source"), F.lit(".org")))
        .when(
            m == 5,
            F.when(alt == 0, F.concat(F.lit("x."), F.col("source"), F.lit(".ck")))
            .otherwise(F.concat(F.lit("a.x."), F.col("source"), F.lit(".ck"))),
        )
        .when(m == 6, F.concat(F.col("source"), F.lit(".ck")))
        .otherwise(F.when(alt == 0, F.lit("www.ck")).otherwise(F.lit("x.www.ck")))
    )
    return (
        d.select(host.alias("host"))
        .withColumn("pld", registrable_domain(F.col("host")))
        .groupBy("host", "pld")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


@_q(
    "decontaminate_ngram_overlap",
    r"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      FROM words WHERE len(w) >= 3),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM idx),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0)
    SELECT t.doc_id, COUNT(*) AS n_overlap_shingles
    FROM train t JOIN bench b USING (shingle)
    GROUP BY t.doc_id
    """,
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination — flag training documents sharing any
    word n-gram with a held-out benchmark set (GPT-3 appendix C / Dodge
    et al. 2021 use 8-13-grams; the synthetic corpus's tiny vocabulary
    makes 3-grams exercise the identical plan). Docs with id%29==0 play
    the benchmark; operators/dedup.contamination_flags returns each
    contaminated train doc with its overlapping-shingle count. The ORACLE
    IS GENERAL — it re-shingles and re-joins in SQL, so it verifies the
    operator on any text. Scale: shingling is whole-stage codegen
    (split + sequence/slice HOFs, no Python); the benchmark side
    collapses to a DISTINCT shingle column (eval sets are tiny → AQE
    broadcast), so corpus cost is one map-side hash join + one
    partial-aggregated groupBy(doc) — no all-pairs product anywhere."""
    from ..operators.dedup import contamination_flags

    docs = T(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    train = docs.filter(F.col("doc_id") % 29 != 0)
    out = contamination_flags(train, bench, n=3)
    return out.select(
        F.col("id").alias("doc_id"), "n_overlap_shingles"
    )


@_q(
    "graph_hits_2iter",
    f"""
    WITH edges AS ({_pr_edges_sql('(SELECT COUNT(*) FROM documents)')}),
    n0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS h FROM documents),
    a1 AS (SELECT d.doc_id AS node, COALESCE(SUM(p.h), 0) AS a
           FROM documents d
           LEFT JOIN edges e ON e.dst = d.doc_id
           LEFT JOIN n0 p ON p.node = e.src
           GROUP BY d.doc_id),
    h1 AS (SELECT d.doc_id AS node, COALESCE(SUM(p.a), 0) AS h
           FROM documents d
           LEFT JOIN edges e ON e.src = d.doc_id
           LEFT JOIN a1 p ON p.node = e.dst
           GROUP BY d.doc_id),
    a2 AS (SELECT d.doc_id AS node, COALESCE(SUM(p.h), 0) AS a
           FROM documents d
           LEFT JOIN edges e ON e.dst = d.doc_id
           LEFT JOIN h1 p ON p.node = e.src
           GROUP BY d.doc_id),
    h2 AS (SELECT d.doc_id AS node, COALESCE(SUM(p.a), 0) AS h
           FROM documents d
           LEFT JOIN edges e ON e.src = d.doc_id
           LEFT JOIN a2 p ON p.node = e.dst
           GROUP BY d.doc_id)
    SELECT a2.node AS doc_id, CAST(a2.a AS BIGINT) AS auth,
           CAST(h2.h AS BIGINT) AS hub
    FROM a2 JOIN h2 ON h2.node = a2.node
    """,
)
def graph_hits_2iter(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999), 2 synchronous
    iterations over the same deterministic link graph as
    pagerank_mass_3iter — the fourth iterative-algorithm surface. The
    normalization step is dropped so every value stays an exact int64
    sum (hub state starts at 1; out-degree is exactly 2, so magnitudes
    stay tiny at 2 iterations) — float HITS would never hash-match
    across engines; integer HITS does, bit for bit.

    Scale design: each half-iteration is one edges⋈state hash join
    (edges pre-partitioned+persisted once) + one partial-aggregated
    groupBy — the same narrow-state Pregel shape as PageRank, except
    authority and hub updates alternate join sides (dst then src), so
    persisting edges ONCE serves both directions."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cnt = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") + F.col("n_chars")) % cnt).alias("dst"),
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * 7 + F.col("n_chars")) % cnt).alias("dst"),
            )
        )
        .persist()
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    h = nodes.withColumn("h", F.lit(1).cast("bigint"))
    a = None
    for _ in range(2):
        a_in = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("s"))
        )
        a = nodes.join(a_in, nodes["node"] == a_in["dst"], "left").select(
            "node", F.coalesce("s", F.lit(0)).cast("bigint").alias("a")
        )
        h_in = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("s"))
        )
        h = nodes.join(h_in, nodes["node"] == h_in["src"], "left").select(
            "node", F.coalesce("s", F.lit(0)).cast("bigint").alias("h")
        )
    return a.join(h, "node").select(
        F.col("node").alias("doc_id"),
        F.col("a").alias("auth"),
        F.col("h").alias("hub"),
    )


@_q(
    "crawl_mime_sniff",
    """
    SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'image/png'
             WHEN 1 THEN 'application/pdf'
             WHEN 2 THEN 'audio/wav'
             WHEN 3 THEN 'text/html'
             WHEN 4 THEN 'application/xml'
             WHEN 5 THEN 'image/jpeg'
             WHEN 6 THEN 'image/gif'
             ELSE 'application/octet-stream' END AS mime
    FROM documents
    """,
)
def crawl_mime_sniff(spark, sf_dir):
    """Magic-byte MIME sniffing over fetched bodies
    (functions/multimodal.sniff_mime) — Content-Type headers lie, so a
    crawler routes on bytes (why WHATWG MIME-sniffing exists). Bodies are
    REAL binary: PNG signature via unhex, '%PDF-' and RIFF/WAVE magics,
    whitespace-prefixed '<!DOCTYPE html' (exercises the ltrim), '<?xml',
    a JPEG SOI+APP0 prefix, a GIF89a signature, and plain text falling to octet-stream. Spark sniffs the actual
    bytes; the oracle predicts each MIME algebraically from the arm —
    independent of the sniffing code. Scale: pure codegen hex/prefix
    compares on a bounded 256-byte head — no UDF, no shuffle, one map
    pass over bytes already in memory for the parse that follows."""
    from ..functions.multimodal import sniff_mime

    d = T(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    txt = F.encode(F.col("text"), "UTF-8")
    blob = (
        F.when(m == 0, F.concat(F.unhex(F.lit("89504E470D0A1A0A")), txt))
        .when(m == 1, F.concat(F.encode(F.lit("%PDF-1.7\n"), "UTF-8"), txt))
        .when(
            m == 2,
            F.concat(
                F.encode(F.lit("RIFF"), "UTF-8"),
                F.unhex(F.lit("24080000")),
                F.encode(F.lit("WAVE"), "UTF-8"),
                txt,
            ),
        )
        .when(
            m == 3,
            F.encode(
                F.concat(F.lit("  <!DOCTYPE html><html><body>"), F.col("text")),
                "UTF-8",
            ),
        )
        .when(
            m == 4,
            F.encode(
                F.concat(F.lit('<?xml version="1.0"?><rss>'), F.col("text")),
                "UTF-8",
            ),
        )
        .when(m == 5, F.concat(F.unhex(F.lit("FFD8FFE0")), txt))  # JPEG SOI+APP0
        .when(m == 6, F.concat(F.encode(F.lit("GIF89a"), "UTF-8"), txt))
        .otherwise(txt)
    )
    return d.select("doc_id", sniff_mime(blob).alias("mime"))


@_q(
    "crawl_mirror_hosts",
    """
    WITH pages AS (
      SELECT source AS host, text FROM documents
      UNION ALL
      SELECT source || '-m', text FROM documents WHERE doc_id % 3 = 0),
    fp AS (SELECT DISTINCT host, md5(text) AS fp FROM pages),
    keep AS (SELECT fp FROM fp GROUP BY fp
             HAVING COUNT(DISTINCT host) BETWEEN 2 AND 50),
    f2 AS (SELECT f.host, f.fp FROM fp f JOIN keep USING (fp))
    SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS n_shared
    FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.host < b.host
    GROUP BY a.host, b.host
    HAVING COUNT(*) >= 2
    """,
)
def crawl_mirror_hosts(spark, sf_dir):
    """Mirror-site detection (operators/dedup.mirror_host_pairs): host
    pairs sharing ≥2 identical page fingerprints. Every third page is
    mirrored onto a '<source>-m' twin host, so each source pairs with its
    mirror; the ORACLE IS GENERAL (it re-fingerprints and re-joins in
    SQL), so organically colliding hosts would be caught identically.
    Catching mirrors at the HOST level lets the scheduler drop a whole
    domain instead of paying fetch+dedup per page. Scale: DISTINCT
    (host, md5) first; fps on >50 hosts are dropped BEFORE the self-join
    (boilerplate shells would otherwise pair all hosts quadratically),
    bounding per-key fan-out."""
    from ..operators.dedup import mirror_host_pairs

    d = T(spark, sf_dir, "documents")
    pages = d.select(F.col("source").alias("host"), "text").unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.col("source"), F.lit("-m")).alias("host"), "text"
        )
    )
    return mirror_host_pairs(pages, min_shared=2, max_hosts_per_fp=50)


@_q(
    "dedup_span_fingerprints",
    """
    WITH t AS (SELECT doc_id, lower(text) AS t FROM documents
               WHERE length(text) >= 40),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 39, 10)) AS i
            FROM t),
    spans AS (SELECT doc_id, substr(t, i, 40) AS span FROM idx),
    dup AS (SELECT span FROM spans GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT doc_id, COUNT(*) AS n_dup_spans
    FROM spans s JOIN dup USING (span)
    GROUP BY doc_id
    """,
)
def dedup_span_fingerprints(spark, sf_dir):
    """Cross-document duplicated char-span detection
    (operators/dedup.dup_spans) — the stride-sampled fingerprint
    approximation of ExactSubstr dedup (Lee et al. 2022): 40-char windows
    every 10 chars; a window in ≥2 distinct docs marks each occurrence.
    Span-level dedup cuts memorized boilerplate INSIDE documents that
    doc-level MinHash can only drop whole. The corpus's repetitive
    synthetic text produces natural cross-doc spans, and the ORACLE IS
    GENERAL (re-shingles in SQL). Scale: window emission is codegen
    sequence+substring HOFs; one partial-aggregated groupBy(span) (at
    production scale group on xxhash64(span) — 8-byte shuffle) + one join
    back; no pairwise product."""
    from ..operators.dedup import dup_spans

    out = dup_spans(
        T(spark, sf_dir, "documents"), span_len=40, stride=10
    )
    return out.select(F.col("id").alias("doc_id"), "n_dup_spans")


@_q(
    "graph_triangle_stats",
    f"""
    WITH de AS ({_pr_edges_sql('(SELECT COUNT(*) FROM documents)')}),
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM de WHERE src <> dst),
    deg AS (SELECT node, COUNT(*) AS d FROM (
              SELECT a AS node FROM und UNION ALL SELECT b FROM und)
            GROUP BY node)
    SELECT (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT COUNT(*) FROM und ab
              JOIN und bc ON ab.b = bc.a
              JOIN und ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles
    """,
)
def graph_triangle_stats(spark, sf_dir):
    """Triangle counting over the undirected closure of the synthetic
    link graph — the classic graph-analytics benchmark op (clustering
    coefficient's numerator; web-graph triangles indicate community/spam
    structure). Edges are oriented low-id→high-id so each triangle is
    counted exactly once by the two-hop path join + closing-edge join.
    Integer counts hash-match the oracle exactly.

    Scale design: the node-iterator join shape — und⋈und on the pivot
    then one closing hash semi-equi-join — shuffles only (a,b) id pairs.
    At web scale you orient edges by DEGREE (low-degree node first)
    instead of id, which provably bounds per-key fan-out to O(sqrt(m))
    (Suri & Vassilvitskii 2011); id-orientation is used here because the
    synthetic graph is near-regular (out-degree 2), making both
    orientations equivalent. n_wedges = Σ d(d−1)/2 comes from a degree
    table, never enumerated."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cnt = docs.count()
    de = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") + F.col("n_chars")) % cnt).alias("dst"),
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + F.col("n_chars")) % cnt).alias("dst"),
        )
    )
    und = (
        de.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .persist()
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    ab = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    n_tri = (
        ab.join(bc, "y")
        .join(ac, ["x", "z"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return n_edges.crossJoin(n_wedges).crossJoin(n_tri)


@_q(
    "crawl_hreflang_alternates",
    f"""
    SELECT doc_id, 'en' AS hreflang,
           {_DOC_URL_SQL} || '?lang=en' AS href
    FROM documents
    UNION ALL
    SELECT doc_id, 'de',
           'http://' || source || '.example/de/doc/'
             || CAST(doc_id AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT doc_id, 'x-default', {_DOC_URL_SQL}
    FROM documents
    """,
)
def crawl_hreflang_alternates(spark, sf_dir):
    """hreflang alternate-link extraction
    (functions/extract.extract_hreflang_udf): <link rel="alternate"
    hreflang=…> clusters the language variants of one page (Google's
    documented hreflang protocol). A crawler dedups translations under
    one canonical group; a training pipeline keeps the cluster as
    parallel-text alignment metadata. Each page declares en (relative
    href — must resolve against the page URL), de (absolute), and
    x-default; Spark parses the REAL HTML, the oracle predicts the
    resolved triples algebraically. Scale: one Arrow-batched parse per
    page + explode; output is narrow (id, lang, url)."""
    from ..functions.extract import extract_hreflang_udf

    d = _doc_urls(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><link rel="alternate" hreflang="en" href="/doc/'),
        i,
        F.lit('?lang=en"><link rel="alternate" hreflang="de" href="http://'),
        F.col("source"),
        F.lit(".example/de/doc/"),
        i,
        F.lit('"><link rel="alternate" hreflang="x-default" href="/doc/'),
        i,
        F.lit('"></head><body>x</body></html>'),
    )
    return d.select(
        "doc_id",
        F.explode(extract_hreflang_udf(html, F.col("url"))).alias("h"),
    ).select(
        "doc_id",
        F.col("h.hreflang").alias("hreflang"),
        F.col("h.href").alias("href"),
    )


@_q(
    "text_length_histogram",
    """
    SELECT CAST(length(bin(n_chars)) AS INT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def text_length_histogram(spark, sf_dir):
    """Log2-bucketed document-length histogram — the first diagnostic a
    corpus pipeline runs (length filters, chunk-budget planning, spotting
    truncation spikes). The bucket is the BIT LENGTH of n_chars
    (length of its binary representation = floor(log2)+1), computed in
    exact integer string ops on BOTH engines — float log2 at bucket
    boundaries (exact powers of two) could round differently across
    engines; bit length cannot. Scale: map-side bucket + one tiny
    aggregate; fully codegen."""
    d = T(spark, sf_dir, "documents")
    bucket = F.length(F.expr("bin(n_chars)")).cast("int")
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# =========================================================================
# Round-3 batch 6: near-dup cluster resolution, unicode normalization,
# per-language quality gating, corpus n-gram stats, URL shape stats,
# embedding quantization — the remaining training-data-pipeline surface.
# =========================================================================


@_q(
    "dedup_cluster_canonical",
    r"""
    WITH ws AS (
      SELECT DISTINCT doc_id AS id, w.word
      FROM documents,
           UNNEST(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
             AS w(word)
      WHERE doc_id < 150 AND length(w.word) > 0),
    sz AS (SELECT id, COUNT(*) AS sz FROM ws GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM ws a JOIN ws b ON a.word = b.word AND a.id < b.id
      GROUP BY a.id, b.id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    l1 AS (SELECT p.node, LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           FROM l0 p LEFT JOIN edges e ON e.dst = p.node
           LEFT JOIN l0 n ON n.node = e.src GROUP BY p.node, p.label),
    l2 AS (SELECT p.node, LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           FROM l1 p LEFT JOIN edges e ON e.dst = p.node
           LEFT JOIN l1 n ON n.node = e.src GROUP BY p.node, p.label),
    l3 AS (SELECT p.node, LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           FROM l2 p LEFT JOIN edges e ON e.dst = p.node
           LEFT JOIN l2 n ON n.node = e.src GROUP BY p.node, p.label),
    canon AS (
      SELECT label, node AS canonical_id FROM (
        SELECT l.label, l.node,
               ROW_NUMBER() OVER (PARTITION BY l.label
                                  ORDER BY d.n_chars DESC, l.node ASC) AS rn
        FROM l3 l JOIN documents d ON d.doc_id = l.node) t WHERE rn = 1)
    SELECT l.node AS doc_id, c.canonical_id AS canonical_id,
           l.node = c.canonical_id AS is_canonical
    FROM l3 l JOIN canon c ON c.label = l.label
    """,
)
def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup CLUSTER RESOLUTION — the step every dedup pipeline needs
    after pair generation: pairs → connected components → pick ONE
    canonical document per cluster (longest text, tie-break lowest id),
    so the keep/drop decision is consistent across the whole cluster
    rather than per-pair (per-pair keep-lowest breaks on chains A~B~C).
    Pairs here are exact word-Jaccard ≥ 0.5 (candidate-gated to
    doc_id<150 like dedup_ngram_jaccard; the ungated scale path feeds
    MinHash+LSH pairs into the identical CC+canon tail). Components via
    3 synchronous min-label iterations — integer MIN is exact, so the
    cross-engine hash matches bit-for-bit; production loops to fixpoint.
    Scale: per iteration one edges⋈labels join + groupBy MIN (map-side
    partial); canon is one window over components (skew-free: near-dup
    clusters are small by construction — a giant component would mean
    the threshold is wrong, which the cluster-size histogram exposes).
    Lineage is truncated by materializing every SECOND iteration —
    ``labels`` appears twice in iteration i+1 (probe side and incoming
    side), so a fully lazy loop doubles the unevaluated subtree per
    iteration: 2^k copies of the pair-generation plan by iteration k.
    But with the edge table persisted+materialized first, ONE lazy hop
    is safe and cheap: the doubled subtree is a single join+agg over a
    cached leaf, not the pair-generation plan. Three per-iteration
    count() barriers (the round-3 shape) cost ~10 s of fixed job-launch
    latency at toy scale (VERDICT r3 #5); this shape pays exactly two
    barriers (edges, labels after iteration 2) and folds iteration 3 +
    canon selection into the caller's single action. Same discipline as
    pagerank_mass_3iter / connected_components_3iter, with the
    materialization cadence A/B'd per the recorded
    lazy-vs-materialized trade for cheap-state iterative loops."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = dedup.jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .repartition("src")
        .persist()
    )
    edges.count()  # barrier 1: pair generation runs exactly once
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in range(3):
        incoming = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr"))
        )
        labels = labels.join(incoming, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr", "label")).alias("label"),
        )
        if i == 1:  # barrier 2: truncate before the subtree doubles again
            labels = labels.persist()
            labels.count()
    # final labels stay lazy-persisted: the caller's one action computes
    # iteration 3 over the cached iteration-2 labels and cached edges
    # (labels appears twice in the canon tail; the persist makes the
    # second occurrence read blocks instead of recomputing the join).
    labels = labels.persist()
    stats = labels.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("label").orderBy(
        F.col("n_chars").desc(), F.col("node").asc()
    )
    canon = (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("node").alias("canonical_id"))
    )
    return labels.join(canon, "label").select(
        F.col("node").alias("doc_id"),
        "canonical_id",
        (F.col("node") == F.col("canonical_id")).alias("is_canonical"),
    )


from pyspark.sql.types import StringType as _StringType


@F.pandas_udf(_StringType())
def _nfc_udf(s: pd.Series) -> pd.Series:
    import unicodedata

    return s.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


@_q(
    "text_nfc_normalize",
    """
    SELECT doc_id,
           length(text || 'e' || chr(769) || 'x') AS raw_len,
           length(nfc_normalize(text || 'e' || chr(769) || 'x')) AS nfc_len
    FROM documents
    """,
)
def text_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization — mandatory before any hashing/dedup of
    multi-source web text (the same word arrives precomposed from one
    site and decomposed from another; C4/Gopher pipelines NFC first so
    fingerprints agree). The corpus is ASCII, so a decomposed 'e'+U+0301
    is appended to every doc to force real composition work: the engine
    must shrink it to one codepoint (raw_len = nfc_len + 1). Spark has
    no built-in NFC → Arrow-batched pandas UDF over unicodedata (the
    sanctioned slow path); DuckDB checks with its native nfc_normalize —
    two independent NFC implementations agreeing per row. BMP-only by
    construction (Spark length counts UTF-16 units, DuckDB codepoints —
    they agree only below U+10000, which the corpus probe guarantees)."""
    d = T(spark, sf_dir, "documents")
    raw = F.concat(F.col("text"), F.lit("e\u0301x"))
    return d.select(
        "doc_id",
        F.length(raw).alias("raw_len"),
        F.length(_nfc_udf(raw)).alias("nfc_len"),
    )


@_q(
    "text_quality_gate_by_lang",
    r"""
    WITH wc AS (
      SELECT doc_id, lang,
             len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
               AS wc
      FROM documents),
    r AS (SELECT doc_id, lang, wc,
                 PERCENT_RANK() OVER (PARTITION BY lang ORDER BY wc, doc_id) AS pr
          FROM wc)
    SELECT doc_id, lang, wc, round(pr, 6) AS pr FROM r WHERE pr >= 0.5
    """,
)
def text_quality_gate_by_lang(spark, sf_dir):
    """PER-LANGUAGE quality gating: keep documents at or above their own
    language's median length. A single global threshold over a mixed
    corpus silently deletes low-resource languages (their docs are
    systematically shorter); percentile-within-group is the standard fix
    (Gopher applies its quality rules per-language for the same reason).
    percent_rank is (rank-1)/(n-1) over exact integers with a doc_id
    tie-break — deterministic and identical across engines. Scale: one
    shuffle on lang; skew (one language dominating) is the known hazard
    → production uses the same gate over (lang, salt) two-phase if a
    partition exceeds memory, trading exactness of the boundary row."""
    d = T(spark, sf_dir, "documents")
    wc = F.size(F.split(F.lower(normalize_ws(F.col("text"))), " "))
    w = Window.partitionBy("lang").orderBy("wc", "doc_id")
    return (
        d.select("doc_id", "lang", wc.alias("wc"))
        .withColumn("pr", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("pr") >= 0.5)
    )


@_q(
    "text_bigram_topk",
    r"""
    WITH w AS (
      SELECT list_filter(
               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
               x -> length(x) > 0) AS w
      FROM documents),
    b AS (
      SELECT unnest(list_transform(generate_series(2, len(w)),
                                   i -> w[i-1] || ' ' || w[i])) AS bigram
      FROM w),
    c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram)
    SELECT bigram, n, CAST(rnk AS INT) AS rnk FROM (
      SELECT bigram, n, ROW_NUMBER() OVER (ORDER BY n DESC, bigram ASC) AS rnk
      FROM c) t
    WHERE rnk <= 20
    """,
)
def text_bigram_topk(spark, sf_dir):
    """Corpus-level top-k bigrams — the raw material for boilerplate
    phrase detection and stopword-list induction over a crawl (the most
    frequent bigrams in web text are navigation chrome: 'all rights',
    'rights reserved'). Bigrams via transform(sequence(2,size)) over the
    word array — JVM-side, no explode-then-self-join on position (which
    would shuffle the corpus twice); the when-guard avoids Spark's
    descending sequence(2,1) on 1-word docs. ONE shuffle (bigram
    groupBy, map-side combine), then a 20-row top-k: rank over the tiny
    aggregated set, never a global sort of raw bigrams. At 100 TB the
    groupBy output is bounded by distinct-bigram count; a count>=N
    pre-filter with a partial-agg threshold drops the hapax tail before
    the final shuffle if even that is too wide."""
    d = T(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(normalize_ws(F.col("text"))), " "),
        lambda x: F.length(x) > 0,
    )
    bigrams = F.when(
        F.size("w") >= 2,
        F.expr("transform(sequence(2, size(w)), i -> concat(w[i-2], ' ', w[i-1]))"),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        d.select(words.alias("w"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 20)
    )


@_q(
    "crawl_url_depth_stats",
    """
    WITH urls AS (
      SELECT source AS host,
             'http://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
      UNION ALL
      SELECT source AS host,
             'http://' || source || '.example/cal/2024/'
               || CAST(doc_id % 12 + 1 AS VARCHAR) || '/'
               || CAST(doc_id % 28 + 1 AS VARCHAR) AS url
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT source AS host,
             'http://' || source || '.example/page?sid='
               || md5(CAST(doc_id AS VARCHAR)) AS url
      FROM documents WHERE doc_id % 5 = 0),
    p AS (
      SELECT host, url,
             string_split(regexp_replace(url, '^https?://[^/]+', ''), '?')[1] AS path,
             CASE WHEN url LIKE '%?%' THEN TRUE ELSE FALSE END AS has_query
      FROM urls)
    SELECT length(path) - length(replace(path, '/', '')) AS depth,
           has_query,
           COUNT(DISTINCT url) AS n_urls,
           COUNT(DISTINCT host) AS n_hosts
    FROM p GROUP BY 1, 2
    """,
)
def crawl_url_depth_stats(spark, sf_dir):
    """URL path-depth × has-query profile of the frontier — the shape
    statistic crawl planners use to bound trap growth (depth caps and
    query-string budgets are standard Mercator-era defenses; depth>8 or
    query-heavy hosts get demoted before they soak the fetch budget).
    Input is the same three-way synthetic URL mix as template mining
    (doc pages, calendar trap, session-id trap). Pure JVM string ops
    (regexp_replace/split/length) map-side; ONE shuffle for the
    (depth,has_query) aggregate whose cardinality is tiny; distinct
    counts are exact (expand+hash) — at frontier scale the same rollup
    runs on approx_count_distinct with the exact path kept for audits."""
    d = _doc_urls(spark, sf_dir)
    urls = (
        d.select(F.col("source").alias("host"), "url")
        .unionAll(
            d.filter(F.col("doc_id") % 4 == 0).select(
                F.col("source").alias("host"),
                F.concat(
                    F.lit("http://"), F.col("source"), F.lit(".example/cal/2024/"),
                    (F.col("doc_id") % 12 + 1).cast("string"), F.lit("/"),
                    (F.col("doc_id") % 28 + 1).cast("string"),
                ).alias("url"),
            )
        )
        .unionAll(
            d.filter(F.col("doc_id") % 5 == 0).select(
                F.col("source").alias("host"),
                F.concat(
                    F.lit("http://"), F.col("source"), F.lit(".example/page?sid="),
                    F.md5(F.col("doc_id").cast("string")),
                ).alias("url"),
            )
        )
    )
    path = F.split(F.regexp_replace("url", "^https?://[^/]+", ""), r"\?")[0]
    return (
        urls.select(
            "host",
            "url",
            (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit("")))).alias(
                "depth"
            ),
            F.col("url").contains("?").alias("has_query"),
        )
        .groupBy("depth", "has_query")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


@_q(
    "embedding_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
               / 127.0 AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
      FROM s WHERE scale > 0)
    SELECT vec_id, round(scale, 6) AS scale,
           CAST(list_sum(q) AS INT) AS sum_q,
           list_min(q) AS min_q, list_max(q) AS max_q
    FROM q
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization — the standard 4x memory
    cut that makes a 100 TB embedding corpus ANN-searchable in RAM
    (scale = max|v|/127, q = round-half-up(v/scale); same scheme FAISS
    SQ8 uses, public). All array math is JVM higher-order functions
    (transform/aggregate/array_min/max) — zero Python, codegen'd,
    map-side only, NO shuffle at all. Cross-engine exactness: float→
    double widening is exact, both engines divide the same doubles and
    floor(x+0.5) has no rounding-mode ambiguity (unlike round()); the
    checked aggregates (sum/min/max of ints) are exact. Zero-vectors
    (scale=0) are filtered on both sides."""
    e = T(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    s = e.select(
        "vec_id",
        v.alias("v"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("scale"),
    ).filter(F.col("scale") > 0)
    q = F.transform(
        F.col("v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
    )
    # round(scale) must live in a SEPARATE select below: aliasing it to the
    # same name "scale" alongside q would let CollapseProject resolve the
    # lambda's scale reference to the ROUNDED value (observed: off-by-one q
    # at .5 boundaries vs the oracle, which quantizes with full precision).
    out = s.select(
        "vec_id",
        F.col("scale"),
        F.aggregate(q, F.lit(0), lambda acc, x: acc + x).cast("int").alias("sum_q"),
        F.array_min(q).alias("min_q"),
        F.array_max(q).alias("max_q"),
    )
    return out.select(
        "vec_id", F.round("scale", 6).alias("scale"), "sum_q", "min_q", "max_q"
    )


# =========================================================================
# Registration-order curation. The driver samples queries() in dict order
# (round 1 recorded CORRECTNESS rows for exactly the first 50 entries), so
# the entries with the least prior driver evidence — the crawl-extraction
# plane, feeds API, the dedup/ANN family, UDF-surface completions,
# streaming and multimodal — are moved to the FRONT. Pure reordering:
# every entry keeps its implementation and oracle.
# =========================================================================

_FRONT_ORDER = [
    # ------------------------------------------------------------------
    # Round-5 window (VERDICT r4 #7's budget rule: new + changed must
    # fit the 50-slot window, updated in the same commits that add
    # them). The list above the marker holds 23 names, so the first
    # 27 below it also fall inside the window.
    # ------------------------------------------------------------------
    # round-5 entries (all oracle-paired): JPEG EXIF orientation, 16-bit
    # PNG, CDX random-access fetch, foreign-WARC interop
    "multimodal_jpeg_exif",
    "multimodal_png16",
    "crawl_cdx_fetch",
    "crawl_warc_foreign",
    # implementation changed since last green row: PNG 16-bit depth
    # threading, sitemap zlib.error quarantine, PSL cross-class rule
    # ordering, HTTP transfer-coding quarantine + repeated-field-line
    # merge, image_pixel_stats capability quarantine (gif_pixels shares
    # that stage)
    "multimodal_png_pixels",
    "multimodal_png_palette",
    "multimodal_gif_pixels",
    "crawl_sitemap_entries",
    "crawl_sitemap_gzip",
    "crawl_sitemap_index",
    "crawl_host_pld",
    "crawl_http_envelope",
    # rows-only entries: the oracle can't check them, so a per-round
    # clean driver run is their only driver-side evidence — re-record
    "crawl_seen_bloom",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "streaming_watermark_dedup",
    "streaming_stateful_host_rate",
    "multimodal_feature_ann",
    "text_bpe_encode",
    # oldest-first rotation: built-in-only entries over embeddings whose
    # last green rows are from rounds 1-2 (implementations unchanged since)
    "array_hof_embeddings",
    "array_funcs_embeddings",
    # --- 50-slot driver window ends here. Every entry below (and every
    # registered entry not listed, which _apply_registration_order
    # appends after the list) already has at least one green
    # CORRECTNESS row from rounds 1-4 and an unchanged implementation.
    "crawl_host_extract",
    "crawl_frontier_antijoin",
    "crawl_robots_filter",
    "crawl_rss_entries",
    "crawl_link_extract",
    "feeds_process_capped",
    "crawl_mime_sniff",
    "crawl_mirror_hosts",
    "dedup_span_fingerprints",
    "graph_triangle_stats",
    "crawl_hreflang_alternates",
    "crawl_redirect_resolve",
    "crawl_conditional_get",
    "crawl_adaptive_budget",
    "decontaminate_ngram_overlap",
    "graph_hits_2iter",
    "crawl_html_meta",
    "crawl_charset_decode",
    "crawl_url_template_mining",
    "text_pii_scrub",
    "text_quality_linear_score",
    "text_bigram_lm_score",
    "dedup_within_doc_lines",
    "graph_anchor_text",
    "text_c4_filter_chain",
    "text_tfidf_topk",
    "graph_bfs_hops",
    "split_train_test_stratified",
    "pagerank_mass_3iter",
    "connected_components_3iter",
    "pack_doc_chunks",
    "mix_sources_interleave",
    "explode_outer_doc_words",
    "dedup_title_levenshtein",
    "text_bpe_token_count",
    "embedding_quantize_int8",
    "multimodal_image_meta",
    "streaming_seed_ingest",
    "crawl_robots_wildcard",
    # dedup/ANN/text pipeline representatives
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "text_token_count",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_repetition_stats",
    "text_rare_word_stats",
    # UDF-surface representatives
    "udtf_split_sentences",
    "iter_udf_token_count",
]


def _apply_registration_order() -> None:
    missing = [n for n in _FRONT_ORDER if n not in QUERIES]
    assert not missing, f"front-order names not registered: {missing}"
    order = _FRONT_ORDER + [n for n in QUERIES if n not in _FRONT_ORDER]
    for d in (QUERIES, ORACLE_SQL):
        reordered = {n: d[n] for n in order if n in d}
        d.clear()
        d.update(reordered)


_apply_registration_order()
