"""Text-analysis operators for the training-data pipeline, plus the
X1-shaped order-preserving token extraction.

All hot paths are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd); no Python UDFs. Each operator ships a
DuckDB-oracle SQL twin computing the identical deterministic formula.

Ops: token extraction (X1 analog, reference crawler.go:376-401),
language-ID (stopword-hit heuristic), quality scoring
(length/punct/stopword ratios), token counting (whitespace + word
regex), document fingerprinting (md5 content hash — portable across
engines, unlike xxhash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# Deterministic "stopword" lists per language bucket — the testdata
# text is synthetic word-salad, so these act as a reproducible n-gram
# heuristic, not a linguistic model. Same lists inlined in the SQL.
_EN_MARKERS = ("the", "a", "and", "of")
_DATA_MARKERS = ("table", "row", "column", "key")


def token_extract(docs: DataFrame, prefix: str = "s") -> DataFrame:
    """Order-preserving token extraction: split → posexplode → filter.

    The Spark shape of the reference's document-order anchor walk
    (crawler.go:376-401): position travels with the token (pos column
    of posexplode), so downstream ordering is a computed column, not
    an execution accident.
    """
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    return (
        toks.filter(F.col("tok").startswith(prefix))
        .select("doc_id", "pos", "tok")
        .orderBy("doc_id", "pos")
    )


TOKEN_EXTRACT_SQL = """
SELECT doc_id, pos, tok FROM (
    SELECT doc_id,
           unnest(range(0, len(s))) AS pos,
           unnest(s) AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) t
) u WHERE tok LIKE 's%' ORDER BY doc_id, pos
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: score = #occurrences of marker tokens;
    predict 'en' when en-marker hits > data-marker hits else 'data'.
    Pure built-ins: token array + array filter + size."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    en_hits = F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS)))
    data_hits = F.size(F.filter(toks, lambda t: t.isin(*_DATA_MARKERS)))
    return (
        docs.select(
            "doc_id",
            en_hits.alias("en_hits"),
            data_hits.alias("data_hits"),
            F.when(en_hits > data_hits, F.lit("en")).otherwise(F.lit("data")).alias("pred_lang"),
        )
        .orderBy("doc_id")
    )


LANG_ID_SQL = """
SELECT doc_id, en_hits, data_hits,
       CASE WHEN en_hits > data_hits THEN 'en' ELSE 'data' END AS pred_lang
FROM (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'a', 'and', 'of'))) AS en_hits,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('table', 'row', 'column', 'key'))) AS data_hits
    FROM documents) t
ORDER BY doc_id
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: doc length, token count, mean token length,
    stopword ratio — the standard cheap pre-training filters, all as
    codegen'd column expressions. Ratios rounded to 6dp for
    cross-engine float comparability."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS)))
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("len_chars"),
            n_tok.alias("n_tokens"),
            F.round((F.length("text") - n_tok + 1) / n_tok, 6).alias("mean_tok_len"),
            F.round(stop_hits / n_tok, 6).alias("stopword_ratio"),
            ((F.length("text") >= 100) & (n_tok >= 20)).alias("passes_quality"),
        )
        .orderBy("doc_id")
    )


QUALITY_SCORE_SQL = """
SELECT doc_id,
       length(text) AS len_chars,
       len(s) AS n_tokens,
       round((length(text) - len(s) + 1) / len(s), 6) AS mean_tok_len,
       round(len(list_filter(s, t -> t IN ('the', 'a', 'and', 'of'))) / len(s), 6)
           AS stopword_ratio,
       (length(text) >= 100 AND len(s) >= 20) AS passes_quality
FROM (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents) t
ORDER BY doc_id
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    subword proxy (ceil(chars/4) per word, the common ~4-chars/token
    rule), both as column arithmetic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    bpe_ish = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.ceil(F.length(t) / 4).cast("long")
    )
    return (
        docs.select(
            "doc_id",
            # long, not int: DuckDB len() is BIGINT — keep the oracle type-exact
            F.size(toks).cast("long").alias("ws_tokens"),
            bpe_ish.alias("bpe_ish_tokens"),
        )
        .orderBy("doc_id")
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       len(s) AS ws_tokens,
       CAST(list_aggregate(list_transform(s, t -> CAST(ceil(length(t) / 4.0) AS BIGINT)),
                      'sum') AS BIGINT) AS bpe_ish_tokens
FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) t
ORDER BY doc_id
"""


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized content.
    md5 (not xxhash) because it is bit-identical across Spark, DuckDB
    and Python — the engine's portable content-hash primitive."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp")).orderBy("doc_id")


FINGERPRINT_SQL = r"""
SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""


def token_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram: docs bucketed by whitespace
    token count in fixed-width bins of 8 — the sequence-length
    profile a packing/batching stage needs (choose context length,
    estimate padding waste). One map-side-combining groupBy on a
    derived int key; the doc text never shuffles."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = F.floor(F.size(F.split(F.col("text"), " ")) / 8).cast("long")
    return (
        docs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "bucket",
            (F.col("bucket") * 8).alias("min_tokens"),
            (F.col("bucket") * 8 + 7).alias("max_tokens"),
            "n_docs",
        )
        .orderBy("bucket")
    )


TOKEN_BUCKETS_SQL = """
SELECT bucket, bucket * 8 AS min_tokens, bucket * 8 + 7 AS max_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT CAST(floor(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS bucket
      FROM documents) t
GROUP BY bucket ORDER BY bucket
"""


PACK_BUDGET = 256  # tokens per packed training sequence


def pack_documents(spark: SparkSession, sf_dir: str, budget: int = PACK_BUDGET) -> DataFrame:
    """Sequence-packing plan (concat-and-chunk — the zero-padding
    packing strategy): documents in doc_id order are laid head-to-tail
    on a global token tape; training sequences are the tape cut every
    ``budget`` tokens. Emits per doc its global start offset, the
    sequence its first token lands in, and the offset within that
    sequence — everything a pack-and-shard writer needs, and the stage
    token_length_buckets profiles for.

    Scale shape: the global running sum is the distributed
    range-partition prefix sum (plans/rank.py::with_running_sum —
    partition-local window + per-partition offsets from a
    #partitions-row table, broadcast back), NEVER a single-partition
    ``SUM() OVER (ORDER BY ...)``.
    """
    from ..plans.rank import with_running_sum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    summed = with_running_sum(base, ["doc_id"], "n_tokens", "cum_tokens")
    start = F.col("cum_tokens") - F.col("n_tokens")
    return (
        summed.select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            F.floor(start / budget).cast("long").alias("seq_id"),
            (start % budget).cast("long").alias("seq_offset"),
        )
        .orderBy("doc_id")
    )


def _pack_sql(budget: int) -> str:
    """DuckDB twin of pack_documents, parameterized on the SAME budget
    (the _lsh_sql pattern — a non-default budget needs this twin, the
    static constant-budget string below is only the registered-oracle
    instance)."""
    return f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS start_offset
  FROM t)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / {budget}.0) AS BIGINT) AS seq_id,
       start_offset % {budget} AS seq_offset
FROM c ORDER BY doc_id
"""


PACK_DOCUMENTS_SQL = _pack_sql(PACK_BUDGET)


# RE2-and-Java-compatible email pattern (character classes + bounded
# quantifier only — no lookarounds, so Spark and DuckDB agree exactly)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the data-hygiene stage of a training pipeline:
    regex redaction of email addresses, with a redaction count and a
    content hash of the scrubbed text (so the oracle verifies the
    EXACT redaction output, not just a count). The synthetic corpus
    carries no PII, so a deterministic contact line derived from
    doc_id is appended first — identically in the oracle — making the
    redaction provably fire twice on every row instead of passing
    vacuously. All whole-stage-codegen regex; at 100 TB this is one
    narrow map over the text column, no shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact: user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
        F.lit(" or admin"), F.col("doc_id").cast("string"), F.lit("@test.org"),
    )
    return (
        docs.select(
            "doc_id",
            F.size(F.regexp_extract_all(contact, F.lit(EMAIL_RE), F.lit(0)))
            .cast("long")
            .alias("n_redacted"),
            F.md5(F.regexp_replace(contact, EMAIL_RE, "<EMAIL>")).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


PII_SCRUB_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || ' or admin' || CAST(doc_id AS VARCHAR) || '@test.org' AS c
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(c, '{EMAIL_RE}')) AS BIGINT) AS n_redacted,
       md5(regexp_replace(c, '{EMAIL_RE}', '<EMAIL>', 'g')) AS scrubbed_md5
FROM t ORDER BY doc_id
"""


REP_NGRAM = 2  # word bigrams — Gopher's "duplicate 2-gram fraction"
DUP_FRAC_MAX = 0.05
TOP_FRAC_MAX = 0.10
# the top-gram clause only fires on docs long enough that a 10% share
# is evidence of repetition rather than arithmetic (a clean 6-token
# doc has top_frac 1/5 = 0.2) — the min-length prefilter every
# published repetition rule assumes
MIN_GRAMS_FOR_TOP = 20


def repetition_score_df(docs: DataFrame, n: int = REP_NGRAM) -> DataFrame:
    """Gopher-style repetition filter: per-doc duplicate-n-gram
    fraction and top-n-gram fraction over word bigrams, plus the
    ``repetitive`` filter flag: dup_gram_frac > 0.05, OR
    top_gram_frac > 0.10 on docs with ≥ MIN_GRAMS_FOR_TOP grams
    (thresholds in the Gopher band for n=2).

    Shape: one codegen regex pass builds the NON-distinct ordered
    gram list, explode → groupBy(doc_id, md5(gram)) count →
    groupBy(doc_id) rollup. Both aggregations map-side combine, and
    the shuffle carries 16-byte digests, never gram text — the same
    hash-only-shuffle contract as dedup_exact. Docs shorter than
    ``n`` tokens keep a zeroed row via the left join.
    """
    from .dedup import gram_pattern

    grams = F.regexp_extract_all(F.col("text"), F.lit(gram_pattern(n)), F.lit(1))
    per_gram = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", F.md5("g").alias("h"))
        .agg(F.count("*").alias("cnt"))
    )
    agg = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.count("*").alias("n_distinct_grams"),
        F.max("cnt").alias("top_count"),
    )
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    n_distinct = F.coalesce(F.col("n_distinct_grams"), F.lit(0)).cast("long")
    # floor(x*1e6 + 0.5)/1e6, not F.round(x, 6): ratios of small ints
    # (e.g. 1/128) are binary-exact and can land ON a 6dp tie, where
    # Spark's HALF_UP and DuckDB's round() disagree bit-for-bit — the
    # same portable-rounding rule embedding_quantize uses.
    dup_frac = F.when(
        n_grams > 0,
        F.floor((F.lit(1) - n_distinct / n_grams) * 1e6 + F.lit(0.5)) / 1e6,
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        n_grams > 0,
        F.floor(F.col("top_count") / n_grams * 1e6 + F.lit(0.5)) / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_distinct.alias("n_distinct_grams"),
            dup_frac.alias("dup_gram_frac"),
            top_frac.alias("top_gram_frac"),
            # flags compare the ROUNDED fractions so the oracle's
            # boundary behavior is identical by construction
            (
                (dup_frac > DUP_FRAC_MAX)
                | ((n_grams >= MIN_GRAMS_FOR_TOP) & (top_frac > TOP_FRAC_MAX))
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_score_df(docs)


def _repetition_sql(n: int = REP_NGRAM) -> str:
    parts = " || ' ' || ".join(f"s[i + {j + 1}]" for j in range(n))
    return f"""
WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
g AS (SELECT doc_id, md5(gr) AS h FROM
      (SELECT doc_id,
              unnest(list_transform(range(0, len(s) - {n - 1}), i -> {parts})) AS gr
       FROM s0) t),
pg AS (SELECT doc_id, h, COUNT(*) AS cnt FROM g GROUP BY doc_id, h),
a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
             COUNT(*) AS n_distinct_grams, MAX(cnt) AS top_count
      FROM pg GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(a.n_distinct_grams, 0) AS BIGINT) AS n_distinct_grams,
       CASE WHEN COALESCE(a.n_grams, 0) > 0
            THEN floor((1 - a.n_distinct_grams / a.n_grams) * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS dup_gram_frac,
       CASE WHEN COALESCE(a.n_grams, 0) > 0
            THEN floor(a.top_count / a.n_grams * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS top_gram_frac,
       (CASE WHEN COALESCE(a.n_grams, 0) > 0
             THEN floor((1 - a.n_distinct_grams / a.n_grams) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END
            > {DUP_FRAC_MAX}
        OR (COALESCE(a.n_grams, 0) >= {MIN_GRAMS_FOR_TOP}
            AND CASE WHEN COALESCE(a.n_grams, 0) > 0
                     THEN floor(a.top_count / a.n_grams * 1e6 + 0.5) / 1e6
                     ELSE 0.0 END
                > {TOP_FRAC_MAX})) AS repetitive
FROM (SELECT doc_id FROM documents) d
LEFT JOIN a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


REPETITION_SQL = _repetition_sql()


# --------------------------------------------------------------------------
# Training-window chunking — the doc → fixed-length-example splitter
# --------------------------------------------------------------------------

CHUNK_SIZE = 32  # tokens per training window
CHUNK_STRIDE = 24  # overlap = SIZE - STRIDE = 8 tokens


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of each document into fixed-size token
    windows with overlap — the example-construction step between
    ``pack_documents`` (which concatenates) and the trainer (which
    wants bounded sequences with context carry-over).

    Window starts are 0, STRIDE, 2·STRIDE, … < n_tokens, so every
    token is covered and consecutive chunks share SIZE−STRIDE tokens.
    Entirely ``sequence`` + ``posexplode`` + ``slice`` — one codegen'd
    narrow map over the corpus, output rows ≈ n_tokens/STRIDE.
    Nothing shuffles: chunking is embarrassingly parallel and the
    chunk key (doc_id, chunk_id) is computed, not assigned — a re-run
    or a backfill emits identical example ids (the reproducible-
    sample rule, sampling.py)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("s"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    c = t.select(
        "doc_id",
        "s",
        "n",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("chunk_id", "tok_start"),
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("tok_start").cast("int").alias("tok_start"),
        F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("tok_start"))
        .cast("int")
        .alias("n_tok"),
        F.array_join(
            F.slice(F.col("s"), F.col("tok_start") + 1, F.lit(CHUNK_SIZE)), " "
        ).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


CHUNK_DOCUMENTS_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
c AS (
  SELECT doc_id, s, len(s) AS n,
         unnest(range(0, len(s), {CHUNK_STRIDE})) AS tok_start
  FROM t)
SELECT doc_id,
       CAST(tok_start // {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       CAST(tok_start AS INTEGER) AS tok_start,
       CAST(least({CHUNK_SIZE}, n - tok_start) AS INTEGER) AS n_tok,
       array_to_string(
           list_slice(s, tok_start + 1, least(tok_start + {CHUNK_SIZE}, n)),
           ' ') AS chunk_text
FROM c ORDER BY doc_id, chunk_id
"""


# --------------------------------------------------------------------------
# PMI phrase detection — the word2phrase pass of tokenizer prep
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 10  # bigrams below this support are noise, not phrases
PMI_TOP_K = 25

# The EXACT double expression, shared verbatim by Spark and DuckDB so
# every intermediate IEEE op matches: one ln() call on a ratio of
# exactly-representable integers (all products < 2^53), then the
# portable floor-round to 6dp. A last-ulp libm ln() divergence cannot
# reorder the top-k cut (the bm25 lesson) and ties break on the
# bigram text.
_PMI_EXPR = (
    "floor(ln(((CAST(c_xy AS DOUBLE) * nu) / (cx * cy))"
    " * (CAST(nu AS DOUBLE) / nb)) * 1e6 + 0.5) / 1e6"
)


def pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information over word
    bigrams — the phrase-detection pass (word2phrase / Mikolov 2013)
    a tokenizer pipeline runs before merging multi-word units:
    PMI = ln(p(x,y) / (p(x)p(y))) with bigram probability from the
    bigram total and unigram probabilities from the token total,
    support-filtered at PMI_MIN_COUNT.

    Plan shape: ONE codegen lookahead-regex pass yields the bigram
    stream (the repetition_score machinery, dedup.py::gram_pattern);
    two map-side-combining groupBys (unigram + bigram counts); the
    bigram table joins the unigram counts twice on the word key (at
    10^10 tokens these are key-only shuffles of the VOCABULARY, not
    the corpus); the two scalar totals broadcast; the cut is
    TakeOrderedAndProject over the portably-rounded score."""
    from .dedup import gram_pattern
    from webcrawlergo_spark.sources.tpch import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    bigrams = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(gram_pattern(2)), F.lit(1))
        ).alias("bg")
    )
    unigrams = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    # r6: aggregate each token stream ONCE and derive the scalar
    # totals from the aggregated tables (Σ of the group counts ==
    # COUNT over the stream, exact integers) — the corpus was being
    # exploded four times (uni / bg / nu / nb); now twice, and the
    # vocab-sized frames are checkpointed because each feeds 2-3
    # consumers (guide §2.3 aggregate-before-shuffle).
    uni = (
        unigrams.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    bg_full = (
        bigrams.groupBy("bg")
        .agg(F.count("*").cast("bigint").alias("c_xy"))
        .localCheckpoint(eager=True)
    )
    bg = (
        bg_full.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .withColumn("x", F.split("bg", " ")[0])
        .withColumn("y", F.split("bg", " ")[1])
    )
    nu = uni.agg(F.sum("c").cast("bigint").alias("nu"))
    nb = bg_full.agg(F.sum("c_xy").cast("bigint").alias("nb"))
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    scored = (
        bg.join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select("bg", "c_xy", F.expr(_PMI_EXPR).alias("pmi_6"))
    )
    return scored.orderBy(
        F.col("pmi_6").desc(), F.col("bg").asc()
    ).limit(PMI_TOP_K)


PMI_PHRASES_SQL = f"""
WITH uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok),
bgs AS (
  SELECT s[i] || ' ' || s[i+1] AS bg
  FROM (SELECT string_split(text, ' ') AS s,
               unnest(range(1, len(string_split(text, ' ')))) AS i
        FROM documents)),
bg AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_xy,
         string_split(bg, ' ')[1] AS x, string_split(bg, ' ')[2] AS y
  FROM bgs GROUP BY bg HAVING COUNT(*) >= {PMI_MIN_COUNT}),
nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bgs),
j AS (
  SELECT bg.bg, bg.c_xy, ux.c AS cx, uy.c AS cy, nu.nu, nb.nb
  FROM bg JOIN uni ux ON bg.x = ux.tok JOIN uni uy ON bg.y = uy.tok
  CROSS JOIN nu CROSS JOIN nb),
scored AS (SELECT bg, c_xy, {_PMI_EXPR} AS pmi_6 FROM j)
SELECT bg, c_xy, pmi_6 FROM scored
ORDER BY pmi_6 DESC, bg ASC LIMIT {PMI_TOP_K}
"""


# --------------------------------------------------------------------------
# TF-IDF top-terms — the per-document salient-term representation
# --------------------------------------------------------------------------

TFIDF_TOP_K = 3

# Shared verbatim by Spark and DuckDB: smooth idf = ln((N+1)/(df+1))
# (>= 0 since df <= N), one libm ln on a ratio of exactly-representable
# integers, one double multiply by the integer tf, then the portable
# floor-round to 6dp. Ranking happens on the ROUNDED score in both
# engines (the bm25 lesson) with the term text as tiebreak, so a
# last-ulp ln() divergence cannot reorder the top-k cut. 1e0 keeps the
# literal a DOUBLE in both engines (bare 1.0 parses as DECIMAL in
# Spark SQL — the hll_distinct lesson).
_TFIDF_EXPR = (
    "floor(CAST(tf AS DOUBLE) * ln((n_docs + 1e0) / (df + 1e0))"
    " * 1e6 + 0.5) / 1e6"
)


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document by TF-IDF — the salient-term
    representation a pipeline materializes for keyword indexing and
    cluster labeling. Complements bm25_topk, which scores DOCUMENTS
    against a fixed query; this ranks TERMS within each document.

    Plan shape: one corpus-token shuffle builds the (doc, term, tf)
    table with map-side combine; df comes from a second, vocabulary×
    docs-sized groupBy over that table (never a re-scan of the text);
    the df table is vocabulary-sized and joins back on the term key
    (broadcastable at real scale); the scalar doc count broadcasts;
    the per-doc top-k is a row_number window over the doc_id
    partitioning the tf table already has."""
    from webcrawlergo_spark.sources.tpch import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # r6: tf feeds both the df rollup and the scoring join — checkpoint
    # it so the corpus-token explode+groupBy executes once, not twice
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_tab = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", F.expr(_TFIDF_EXPR).alias("tfidf_6"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "tfidf_6")
        .orderBy("doc_id", "rnk")
    )


TFIDF_TOPTERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
t AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term),
d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
s AS (
  SELECT t.doc_id, t.term, {_TFIDF_EXPR} AS tfidf_6
  FROM t JOIN d ON t.term = d.term CROSS JOIN n),
r AS (
  SELECT doc_id, term, tfidf_6,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf_6 DESC, term ASC) AS BIGINT) AS rnk
  FROM s)
SELECT doc_id, rnk, term, tfidf_6 FROM r WHERE rnk <= {TFIDF_TOP_K}
ORDER BY doc_id, rnk
"""


# --------------------------------------------------------------------------
# DSIR importance weights — data selection by unigram LM log-ratio
# --------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"

# Per-VOCAB-ENTRY log-likelihood-ratio, rounded onto an integer
# micro-lattice BEFORE the per-document sum: ln of a ratio of
# exactly-representable integers (add-1 smoothed counts x totals, all
# products far below 2^53 at oracle scale), floor-rounded to a BIGINT
# of micro-nats. The per-document score is then a SUM OF BIGINTS —
# exact and aggregation-order-independent across any partitioning
# (the link_pagerank integer-lattice trick; a double sum here would
# diverge between Spark's partial aggregates and DuckDB's single
# stream).
_DSIR_W_EXPR = (
    "CAST(floor(ln(((ct + 1e0) * (nc + v)) / ((cc + 1e0) * (nt + v)))"
    " * 1e6 + 0.5) AS BIGINT)"
)


def dsir_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight per document: the add-1-smoothed
    unigram LM log-likelihood ratio between a target domain (lang =
    'en' documents) and the whole corpus, summed over the document's
    tokens (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"). Documents that look like the target get
    positive scores; resample_to_mix-style selection keeps the top of
    this ranking.

    Plan shape: the corpus token stream aggregates ONCE into the
    vocabulary table (map-side combine); target counts are the same
    agg over the lang-filtered stream, left-joined so out-of-target
    vocab smooths to ct=0; the three scalars (V, N_c, N_t) come from
    one pass over the vocabulary and broadcast; the per-token BIGINT
    weights table is vocabulary-sized and BROADCASTS to the token
    stream (at 100 TB the stream is never shuffled — the only wide
    exchange is the map-side-combined per-doc sum, one row per doc).
    The DSIR paper's hashed-n-gram variant (fixed 10^4 buckets) drops
    in by replacing the term key with ``pmod(xxhash64(term), 10000)``
    when the raw vocabulary outgrows the broadcast budget."""
    from webcrawlergo_spark.sources.tpch import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    cc = toks.groupBy("term").agg(F.count("*").cast("bigint").alias("cc"))
    ct = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    vocab = cc.join(ct, "term", "left").select(
        "term", "cc", F.coalesce("ct", F.lit(0).cast("bigint")).alias("ct")
    )
    scalars = vocab.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("cc").cast("bigint").alias("nc"),
        F.sum("ct").cast("bigint").alias("nt"),
    )
    weights = vocab.crossJoin(F.broadcast(scalars)).select(
        "term", F.expr(_DSIR_W_EXPR).alias("w_micro")
    )
    return (
        toks.join(F.broadcast(weights), "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            (F.sum("w_micro").cast("double") / F.lit(1e6)).alias("llr_6"),
        )
        .select("doc_id", "lang", "n_toks", "llr_6")
        .orderBy("doc_id")
    )


DSIR_LOGRATIO_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
  FROM documents),
tk AS (SELECT * FROM toks WHERE term <> ''),
c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cc FROM tk GROUP BY term),
t AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ct FROM tk
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY term),
vocab AS (
  SELECT c.term, c.cc, COALESCE(t.ct, 0) AS ct
  FROM c LEFT JOIN t ON c.term = t.term),
sc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(cc) AS BIGINT) AS nc,
         CAST(SUM(ct) AS BIGINT) AS nt
  FROM vocab),
w AS (
  SELECT term, {_DSIR_W_EXPR} AS w_micro
  FROM vocab CROSS JOIN sc)
SELECT tk.doc_id, tk.lang,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(w_micro) AS BIGINT) / 1e6 AS llr_6
FROM tk JOIN w ON tk.term = w.term
GROUP BY tk.doc_id, tk.lang
ORDER BY tk.doc_id
"""


QUERIES = {
    "chunk_documents": chunk_documents,
    "pmi_phrases": pmi_phrases,
    "tfidf_topterms": tfidf_topterms,
    "dsir_logratio": dsir_logratio,
    "token_length_buckets": token_length_buckets,
    "lang_id": lang_id,
    "quality_score": quality_score,
    "token_count": token_count,
    "doc_fingerprint": fingerprint,
    "pack_documents": pack_documents,
    "pii_scrub": pii_scrub,
    "repetition_score": repetition_score,
}

ORACLES = {
    "chunk_documents": CHUNK_DOCUMENTS_SQL,
    "pmi_phrases": PMI_PHRASES_SQL,
    "tfidf_topterms": TFIDF_TOPTERMS_SQL,
    "dsir_logratio": DSIR_LOGRATIO_SQL,
    "token_length_buckets": TOKEN_BUCKETS_SQL,
    "lang_id": LANG_ID_SQL,
    "quality_score": QUALITY_SCORE_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
    "pack_documents": PACK_DOCUMENTS_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "repetition_score": REPETITION_SQL,
}
