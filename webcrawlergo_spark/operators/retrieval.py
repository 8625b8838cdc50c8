"""Ranked retrieval over the documents corpus — the "find the
training examples most relevant to X" primitive a data pipeline needs
for targeted curation (topic up-sampling, eval-adjacent inspection,
retrieval-based filtering).

BM25 (Okapi, Lucene-style idf), expressed so the corpus is touched
exactly twice and only query-term postings ever shuffle:

- tokenize → **filter to the query's terms FIRST** (the relational
  form of an inverted-index lookup: Catalyst pushes the IN filter
  into the scan projection, so at 100 TB the shuffle carries only
  postings for |q| terms, never the corpus vocabulary);
- tf per (doc, term) and df per term come from ONE groupBy each over
  that filtered frame (map-side combine on both);
- corpus stats (N, avgdl) are a 1-row aggregate, crossJoin-broadcast;
  per-term idf is a ≤|q|-row frame, equi-join-broadcast;
- final score = one groupBy(doc_id) sum + TakeOrderedAndProject
  top-k — no full sort.

Portability: idf uses ln() (IEEE double libm in both engines); the
final score is rounded with the portable HALF_UP spelling
floor(x·1e6 + 0.5)/1e6 and the top-k ORDERS BY THE ROUNDED score (+
doc_id tiebreak), so a sub-6dp libm divergence can't reorder the cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_df

K1 = 1.2
B = 0.75
TOP_K = 20
# Deterministic benchmark query: one rare marker term (df≈5% of docs
# — high idf) + three common terms, so the ranking genuinely mixes
# idf discrimination with tf/length normalization.
QUERY_TERMS = ("dup", "key", "vector", "scan")


def bm25_topk_df(
    docs: DataFrame,
    terms: tuple[str, ...] = QUERY_TERMS,
    k1: float = K1,
    b: float = B,
    top_k: int = TOP_K,
) -> DataFrame:
    """BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))."""
    # corpus stats: 1 row, broadcast by the crossJoin below. At real
    # scale dl/N/avgdl live in the corpus catalog; recomputing here
    # keeps the query self-contained (one narrow extra scan).
    dl = F.size(F.split(F.col("text"), " "))
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.avg(dl).alias("avgdl")
    )
    toks = (
        docs.select("doc_id", dl.alias("dl"), F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok").isin(*terms))
    )
    tf = toks.groupBy("doc_id", "dl", "tok").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))  # one row per (doc,term) ⇒ count = df
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    agg = scored.groupBy("doc_id").agg(F.sum("term_score").alias("s"))
    return (
        agg.select(
            "doc_id",
            (F.floor(F.col("s") * 1e6 + F.lit(0.5)) / 1e6).alias("bm25_6"),
        )
        .orderBy(F.col("bm25_6").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawlergo_spark.sources.tpch import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    return bm25_topk_df(docs)


def _bm25_sql(
    terms: tuple[str, ...] = QUERY_TERMS,
    k1: float = K1,
    b: float = B,
    top_k: int = TOP_K,
) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl
  FROM documents),
toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, unnest(string_split(text, ' ')) AS tok
  FROM documents),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({term_list}) GROUP BY doc_id, dl, tok),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * tf.dl / s.avgdl)) AS term_score
  FROM tf JOIN dft d ON tf.tok = d.tok CROSS JOIN stats s)
SELECT doc_id, floor(SUM(term_score) * 1e6 + 0.5) / 1e6 AS bm25_6
FROM scored GROUP BY doc_id
ORDER BY bm25_6 DESC, doc_id ASC LIMIT {top_k}
"""


BM25_TOPK_SQL = _bm25_sql()


# --------------------------------------------------------------------------
# Exact phrase search — positional-postings intersection
# --------------------------------------------------------------------------

PHRASE = ("hash", "join")


def phrase_search_df(
    docs: DataFrame, phrase: tuple[str, ...] = PHRASE
) -> DataFrame:
    """Exact multi-word phrase match via positional postings — the
    retrieval primitive bm25's bag-of-words scoring cannot express
    (reference P3's LIKE '%...%' is the single-column analog; this is
    the tokenized, position-exact form an inverted index serves).

    The relational trick: a phrase (w0..wk-1) occurs at position p
    iff token (p+i) == wi for every i. Each posting matching ANY
    phrase word maps to the anchor it would support (anchor = pos −
    i), and an anchor with all k distinct i's present is a hit — one
    join against a k-row broadcast pattern + one groupBy, no
    self-joins, no per-k join chain.

    Scale shape: the pattern join is the inverted-index lookup —
    only postings for the phrase's k terms survive the broadcast
    semi-ish join, so the (doc, anchor) shuffle carries |postings(w0)|
    + … + |postings(wk-1)| rows, never the corpus token stream; both
    groupBys map-side combine. Repeated words in the phrase are
    handled (a token at one position can support several i's;
    count(DISTINCT i) gates the intersection)."""
    spark = docs.sparkSession
    k = len(phrase)
    pat = local_df(spark, [(i, w) for i, w in enumerate(phrase)], "i long, tok string")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    m = toks.join(F.broadcast(pat), "tok").select(
        "doc_id", (F.col("pos").cast("long") - F.col("i")).alias("anchor"), "i"
    )
    hits = (
        m.filter(F.col("anchor") >= 0)
        .groupBy("doc_id", "anchor")
        .agg(F.countDistinct("i").alias("nterms"))
        .filter(F.col("nterms") == k)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.min("anchor").cast("bigint").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawlergo_spark.sources.tpch import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    return phrase_search_df(docs)


def _phrase_sql(phrase: tuple[str, ...] = PHRASE) -> str:
    pat_rows = ", ".join(f"({i}, '{w}')" for i, w in enumerate(phrase))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(range(0, len(s))) AS pos, unnest(s) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
pat AS (SELECT * FROM (VALUES {pat_rows}) AS t(i, tok)),
m AS (SELECT doc_id, pos - i AS anchor, i FROM toks JOIN pat USING (tok)),
hits AS (
  SELECT doc_id, anchor FROM m WHERE anchor >= 0
  GROUP BY doc_id, anchor HAVING COUNT(DISTINCT i) = {len(phrase)})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(anchor) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id ORDER BY doc_id
"""


PHRASE_SEARCH_SQL = _phrase_sql()


QUERIES = {"bm25_topk": bm25_topk, "phrase_search": phrase_search}
ORACLES = {"bm25_topk": BM25_TOPK_SQL, "phrase_search": PHRASE_SEARCH_SQL}
