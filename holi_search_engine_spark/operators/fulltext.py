"""Index-pipeline operators over the driver's ``documents`` table, each
paired with a DuckDB oracle SQL — the SQL-expressible surface subset of the
engine (no dictionary filter / stemming, which DuckDB cannot express; those
paths are pytest-gated against the pandas oracle instead, see tests/).

Semantics per the reference: tf per (doc, term) (``Indexer.java:85-107``),
ntf = (Σtf²)^¼ (quirk Q1, ``Indexer.java:131-139``), df = postings+1
(quirk Q3, ``Idf.java:46``), posting strings "doc:tf,..." doc-ordered
(``Indexer.java:142-176`` with Q2 normalized), and the Ranker scoring
steps incl. the first-hit tf drop (quirk Q5, ``Ranker.java:98-106``).

All float outputs are rounded to 6 decimals on BOTH sides — cross-engine
float summation order is not bit-stable, rounding is the documented
tolerance for the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.javacompat import java_hashset_order
from .common import SURFACE_TOKENS_SQL, clean_expr, load, surface_tokens

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def term_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        surface_tokens(docs)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


_TF_SQL = f"WITH tok AS ({SURFACE_TOKENS_SQL}), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)"


@q("index_term_tf", _TF_SQL + " SELECT doc_id, term, tf FROM tf")
def index_term_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → (doc, term, tf): the mapInPandas hot path's surface
    contract, checked here via pure-Catalyst expressions."""
    return term_tf(spark, sf_dir)


@q(
    "index_postings",
    _TF_SQL
    + """
    SELECT term, count(*) AS df,
           string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY term
    """,
)
def index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists in the reference's "doc:tf,..." string shape
    (``Indexer.java:142-176``), doc-ordered (Q2 normalized)."""
    tf = term_tf(spark, sf_dir)
    entry = F.struct("doc_id", "tf")
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(entry)),
                lambda s: F.concat_ws(":", s.doc_id.cast("string"), s.tf.cast("string")),
            ),
        ).alias("postings"),
    )


@q(
    "index_ntf",
    _TF_SQL
    + " SELECT doc_id, round(sqrt(sqrt(sum(tf * tf))), 6) AS ntf FROM tf GROUP BY doc_id",
)
def index_ntf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quirk Q1: double sqrt of the tf² sum."""
    tf = term_tf(spark, sf_dir)
    return tf.groupBy("doc_id").agg(
        F.round(F.sqrt(F.sqrt(F.sum(F.col("tf") * F.col("tf")))), 6).alias("ntf")
    )


@q(
    "index_idf",
    _TF_SQL
    + """
    SELECT term, count(*) + 1 AS df,
           round(ln((SELECT count(*) FROM documents)::DOUBLE / (count(*) + 1)), 6) AS idf
    FROM tf GROUP BY term
    """,
)
def index_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quirk Q3: df = postings + 1; idf = ln(N/df) with N = corpus size."""
    tf = term_tf(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    return (
        tf.groupBy("term")
        .agg((F.count("*") + 1).alias("df"))
        .withColumn("idf", F.round(F.log(F.lit(float(n)) / F.col("df")), 6))
    )


def _wd_sql() -> str:
    from .common import clean_sql

    c = clean_sql("text")
    return f"""
    WITH tok AS (
      SELECT doc_id, lower(t.token) AS term
      FROM (SELECT doc_id, substring({c}, 1, (3 * length({c})) // 4) AS cut
            FROM documents) d,
           unnest(string_split_regex(d.cut, '\\s+')) AS t(token)
      WHERE t.token <> '' AND length(t.token) <= 512
    ), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
    SELECT doc_id, term, tf,
           round(tf / sqrt(sum(tf * tf) OVER (PARTITION BY doc_id)), 6)
             AS normalized_tf
    FROM tf
    """


@q("tf_wd_surface", _wd_sql())
def tf_wd_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TermFrequency job's SQL-expressible surface (the wd-metric path,
    ``TermFrequency.java:44-139``): clean → truncate to the first ¾ of the
    CLEANED page (``:67``) → split → lowercase → tf per (doc, term) →
    single-sqrt L2 normalization (``:120-135``; NOT the Indexer's
    double-sqrt quirk Q1).  The dictionary-filter and original-case-stem
    passes are not SQL-expressible; the full-quirk job is
    ``plans.term_frequency.term_frequency_stage``, pytest-gated against the
    loop transliteration (tests/test_term_frequency.py)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    cleaned = clean_expr(F.col("text"))
    cut = F.substring(cleaned, F.lit(1), ((F.length(cleaned) * 3) / 4).cast("int"))
    tok = (
        docs.select("doc_id", F.explode(F.split(cut, r"\s+")).alias("token"))
        .where("token <> ''")
        .where(F.length("token") <= 512)
        .select("doc_id", F.lower("token").alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("doc_id")
    return tf.select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") / F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w)), 6
        ).alias("normalized_tf"),
    )


# ---------------------------------------------------------------- search

SEARCH_QUERY_TEXT = "spark join stream"


def _query_plan(query_text: str) -> list[tuple[str, int, int]]:
    """(term, lookup_order, qtf) replicating the Ranker's term ordering:
    HashSet iteration order (see functions/javacompat.py)."""
    words = query_text.strip().lower().split()
    words_set_order = java_hashset_order(words, initial_from_collection=True)
    lookup = java_hashset_order(words_set_order)  # words_sw: none are stopwords here
    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    return [(t, i, counts[t]) for i, t in enumerate(lookup)]


def _search_sql(query_text: str) -> str:
    plan = _query_plan(query_text)
    values = ", ".join(f"('{t}', {o}, {qtf})" for t, o, qtf in plan)
    nq = len(plan)
    return (
        _TF_SQL
        + f""",
    ntf AS (SELECT doc_id, sqrt(sqrt(sum(tf * tf))) AS ntf FROM tf GROUP BY doc_id),
    idf AS (SELECT term, ln((SELECT count(*) FROM documents)::DOUBLE / (count(*) + 1)) AS idf
            FROM tf GROUP BY term),
    q(term, ord, qtf) AS (VALUES {values}),
    hits AS (SELECT tf.doc_id, q.term, q.ord, q.qtf, tf.tf
             FROM tf JOIN q ON tf.term = q.term),
    cand AS (SELECT doc_id, count(*) AS occurrence, min(ord) AS first_ord
             FROM hits GROUP BY doc_id),
    cut AS (SELECT doc_id, occurrence, first_ord FROM
              (SELECT *, row_number() OVER (ORDER BY occurrence DESC, doc_id) AS rn
               FROM cand) WHERE rn <= 250),
    w AS (SELECT c.doc_id, c.occurrence,
                 sum(CASE WHEN h.ord = c.first_ord THEN 0
                          ELSE h.qtf * power(i.idf, 1.5) * h.tf / n.ntf END) AS weight
          FROM cut c
          JOIN hits h ON h.doc_id = c.doc_id
          JOIN idf i ON h.term = i.term
          JOIN ntf n ON n.doc_id = c.doc_id
          GROUP BY c.doc_id, c.occurrence),
    meta AS (SELECT doc_id, substr(text, 1, 60) AS title FROM documents),
    ov AS (SELECT m.doc_id,
                  (SELECT count(*) FROM q
                   WHERE ' ' || lower(m.title) || ' ' LIKE '% ' || q.term || ' %')::DOUBLE
                  / {nq} AS overlap,
                  CASE WHEN position('{query_text}' IN m.title) > 0 THEN 1 ELSE 0 END AS exact
           FROM meta m)
    SELECT w.doc_id, w.occurrence,
           round(3 * w.weight
                 + CASE WHEN o.exact = 1 THEN 10.0
                        WHEN o.overlap >= 0.6 THEN o.overlap * 10 ELSE 0 END,
                 6) AS score
    FROM w JOIN ov o ON o.doc_id = w.doc_id
    """
    )


def search_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = SEARCH_QUERY_TEXT,
    prior: DataFrame | None = None,
) -> DataFrame:
    """Full Ranker scoring (steps 4-10 of SURVEY.md §2.4) as one Catalyst
    plan: candidate gen via posting join, occurrence pre-rank cut at 250,
    Q5 first-hit tf drop, tf-idf weight with idf^1.5 and the Q1 ntf
    denominator, title bonus, 3·w + kw_match final score.

    Title-overlap here uses the reference's token-set membership rule; the
    title is the doc's first 60 chars (documents have no punctuation, so
    the CrawlProcess strip chain is an identity — kept identical in SQL)."""
    plan = _query_plan(query_text)
    # term_tf feeds idf, ntf, and candidate gen — cache it so the plan reads
    # the tokenized corpus once (in production these are the prebuilt
    # wmetric/ntf/blocks tables; this query is the self-contained form)
    tf = term_tf(spark, sf_dir).cache()
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    qdf = spark.createDataFrame(plan, "term string, ord int, qtf int")
    idf = (
        tf.groupBy("term")
        .agg((F.count("*") + 1).alias("df"))
        .withColumn("idf", F.log(F.lit(float(n)) / F.col("df")))
    )
    ntf = tf.groupBy("doc_id").agg(
        F.sqrt(F.sqrt(F.sum(F.col("tf") * F.col("tf")))).alias("ntf")
    )
    hits = tf.join(F.broadcast(qdf), "term")
    cand = hits.groupBy("doc_id").agg(
        F.count("*").alias("occurrence"), F.min("ord").alias("first_ord")
    )
    cut = (
        cand.orderBy(F.col("occurrence").desc(), "doc_id")
        .limit(250)
    )
    w = (
        cut.join(hits, "doc_id")
        .join(F.broadcast(idf.select("term", "idf")), "term")
        .join(ntf, "doc_id")
        .groupBy("doc_id", "occurrence")
        .agg(
            F.sum(
                F.when(F.col("ord") == F.col("first_ord"), F.lit(0.0)).otherwise(
                    F.col("qtf") * F.pow("idf", 1.5) * F.col("tf") / F.col("ntf")
                )
            ).alias("weight")
        )
    )
    meta = docs.select("doc_id", F.substring("text", 1, 60).alias("title"))
    padded = F.concat(F.lit(" "), F.lower("title"), F.lit(" "))
    n_hits = None
    ov_expr = None
    for t, _, _ in plan:
        term_hit = padded.contains(f" {t} ").cast("int")
        ov_expr = term_hit if ov_expr is None else ov_expr + term_hit
    ov = meta.select(
        "doc_id",
        (ov_expr.cast("double") / F.lit(len(plan))).alias("overlap"),
        F.col("title").contains(query_text).cast("int").alias("exact"),
    )
    kw = (
        F.when(F.col("exact") == 1, F.lit(10.0))
        .when(F.col("overlap") >= 0.6, F.col("overlap") * 10)
        .otherwise(F.lit(0.0))
    )
    scored = w.join(ov, "doc_id")
    if prior is not None:
        # static prior completes the reference formula (Ranker.java:255):
        # score = 3·weight + 0.75·pagerank + kw_match; absent docs → 0
        scored = scored.join(F.broadcast(prior), "doc_id", "left").na.fill(
            {"rank": 0.0}
        )
        return scored.select(
            "doc_id",
            "occurrence",
            F.round("rank", 6).alias("page_rank"),
            F.round(
                3 * F.col("weight") + 0.75 * F.col("rank") + kw, 6
            ).alias("score"),
        )
    return scored.select(
        "doc_id",
        "occurrence",
        F.round(3 * F.col("weight") + kw, 6).alias("score"),
    )


QUERIES["search_topk"] = lambda spark, sf_dir: search_topk(spark, sf_dir)
ORACLE["search_topk"] = _search_sql(SEARCH_QUERY_TEXT)

PRIOR_HUB_MOD = 100  # prior-graph shape: doc d (d ≥ 100) links to doc d%100


def _prior_sql(query_text: str) -> str:
    """The search SQL with the static prior folded in: the prior is the
    reference PageRank iteration over the bipartite hub graph (docs ≥ 100
    each link once to doc_id%100), whose converged ranks have the closed
    form srcs=0.15, hubs=0.15+0.85·Σ 0.15/outdeg — the same trick as the
    ``graph_pagerank`` oracle."""
    base = _search_sql(query_text)
    head, tail = base.rsplit("FROM w JOIN ov o ON o.doc_id = w.doc_id", 1)
    assert not tail.strip()
    # insert the prior CTEs after the last CTE and rewrite the final select
    before = head
    head = head.replace(
        "SELECT w.doc_id, w.occurrence,",
        f""", pr_edges AS (SELECT DISTINCT doc_id AS src, doc_id % {PRIOR_HUB_MOD} AS dst
               FROM documents WHERE doc_id >= {PRIOR_HUB_MOD}),
    pr_out AS (SELECT src, count(*) AS od FROM pr_edges GROUP BY src),
    pr_contrib AS (SELECT dst AS vertex, sum(0.15 / od) AS s
                   FROM pr_edges JOIN pr_out USING (src) GROUP BY dst),
    pr_verts AS (SELECT DISTINCT src AS vertex FROM pr_edges
                 UNION SELECT DISTINCT dst FROM pr_edges),
    prior AS (SELECT v.vertex AS doc_id, 0.15 + 0.85 * coalesce(c.s, 0) AS rank
              FROM pr_verts v LEFT JOIN pr_contrib c USING (vertex))
    SELECT w.doc_id, w.occurrence,
           round(coalesce(p.rank, 0), 6) AS page_rank,""",
    )
    assert head != before, "prior-CTE anchor vanished from _search_sql"
    before = head
    head = head.replace(
        "round(3 * w.weight",
        "round(3 * w.weight + 0.75 * coalesce(p.rank, 0)",
    )
    assert head != before, "score-formula anchor vanished from _search_sql"
    return (
        head
        + "FROM w JOIN ov o ON o.doc_id = w.doc_id "
        + "LEFT JOIN prior p ON p.doc_id = w.doc_id"
    )


def search_topk_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`search_topk` with a NONZERO static prior: the reference's
    full scoring formula ``3·weight + 0.75·pagerank + kw_match``
    (``Ranker.java:255``) with the prior computed by the engine's real
    PageRank iteration (``plans/pagerank.py``, reference semantics) over
    a deterministic bipartite hub graph on the documents table.  The
    serving engines read the same prior from the ``pageranks`` index
    artifact (``build_reply_pagerank``; pytest-gated in
    ``tests/test_pagerank.py``)."""
    from ..plans.pagerank import pagerank

    docs = load(spark, sf_dir, "documents")
    edges = docs.where(F.col("doc_id") >= PRIOR_HUB_MOD).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") % PRIOR_HUB_MOD).alias("dst"),
    )
    ranks = pagerank(edges, max_iter=10).select(
        F.col("vertex").cast("long").alias("doc_id"), "rank"
    )
    return search_topk(spark, sf_dir, prior=ranks)


QUERIES["search_topk_prior"] = search_topk_prior
ORACLE["search_topk_prior"] = _prior_sql(SEARCH_QUERY_TEXT)

SEARCH_QUERY_TEXT_2 = "data data table"  # repeated term → qtf = 2
QUERIES["search_topk_qtf"] = lambda spark, sf_dir: search_topk(
    spark, sf_dir, SEARCH_QUERY_TEXT_2
)
ORACLE["search_topk_qtf"] = _search_sql(SEARCH_QUERY_TEXT_2)


# ---------------------------------------------------------------------------
# BM25 top-k (the north-rule scale path, oracle-checkable form).

BM25_QUERY_TEXT = "table scan filter"


def _bm25_sql(query_text: str) -> str:
    from ..plans.compression import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in query_text.split())
    return f"""
    {_TF_SQL},
    dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY doc_id),
    st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(dl) FROM dl) AS avgdl),
    dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           round(sum( ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5))
                      * tf.tf * {BM25_K1 + 1.0!r}
                      / (tf.tf + {BM25_K1!r}
                         * ({1.0 - BM25_B!r} + {BM25_B!r} * dl.dl / st.avgdl)) ),
                 6) AS score
    FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id), st
    WHERE tf.term IN ({terms})
    GROUP BY tf.doc_id
    ORDER BY score DESC, tf.doc_id
    LIMIT 10
    """


@q("search_bm25_topk", _bm25_sql(BM25_QUERY_TEXT))
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-form BM25 top-k over ``documents`` with the engine's pinned
    knobs (k1/b and the +1-floor idf of ``query/bm25.py:bm25_idf``) —
    the oracle-checkable twin of the production block-max WAND path,
    which pytest proves doc-and-score identical to brute force over this
    same formula (``tests/test_bm25.py``)."""
    from ..plans.compression import BM25_B, BM25_K1

    terms = BM25_QUERY_TEXT.split()
    tf = term_tf(spark, sf_dir).cache()
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    avgdl = dl.agg(F.avg("dl")).first()[0]
    dfs = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    qdf = spark.createDataFrame([(t,) for t in terms], "term string")
    hits = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(float(avgdl))
    per_term = (
        idf
        * F.col("tf").cast("double")
        * F.lit(BM25_K1 + 1.0)
        / (F.col("tf").cast("double") + F.lit(BM25_K1) * norm)
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.round(F.sum(per_term), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


def _bm25_and_sql(query_text: str) -> str:
    """Conjunctive twin of :func:`_bm25_sql`: only docs matching EVERY
    query term score (HAVING over distinct matched terms)."""
    from ..plans.compression import BM25_B, BM25_K1

    qterms = query_text.split()
    terms = ", ".join(f"'{t}'" for t in qterms)
    return f"""
    {_TF_SQL},
    dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY doc_id),
    st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(dl) FROM dl) AS avgdl),
    dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           round(sum( ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5))
                      * tf.tf * {BM25_K1 + 1.0!r}
                      / (tf.tf + {BM25_K1!r}
                         * ({1.0 - BM25_B!r} + {BM25_B!r} * dl.dl / st.avgdl)) ),
                 6) AS score
    FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id), st
    WHERE tf.term IN ({terms})
    GROUP BY tf.doc_id
    HAVING count(DISTINCT tf.term) = {len(qterms)}
    ORDER BY score DESC, tf.doc_id
    LIMIT 10
    """


@q("search_bm25_and_topk", _bm25_and_sql(BM25_QUERY_TEXT))
def search_bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND-semantics) BM25 top-k: only docs containing EVERY
    query term are candidates — the boolean-retrieval mode the reference's
    union ranker lacks, and the shape where posting-intersection pruning
    shines at scale (the rarest term's list bounds the candidate set; the
    block index's next_geq/skip metadata serves exactly this access
    pattern)."""
    from ..plans.compression import BM25_B, BM25_K1

    terms = BM25_QUERY_TEXT.split()
    tf = term_tf(spark, sf_dir).cache()
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    avgdl = dl.agg(F.avg("dl")).first()[0]
    dfs = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    qdf = spark.createDataFrame([(t,) for t in terms], "term string")
    hits = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(float(avgdl))
    per_term = (
        idf
        * F.col("tf").cast("double")
        * F.lit(BM25_K1 + 1.0)
        / (F.col("tf").cast("double") + F.lit(BM25_K1) * norm)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.round(F.sum(per_term), 6).alias("score"),
            F.countDistinct("term").alias("_m"),
        )
        .where(F.col("_m") == len(terms))
        .drop("_m")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


_DIST_BUCKETS = 8
_DIST_RANGES = 8  # pinned: deterministic quantile range bounds per Q2-style determinism


@q("search_bm25_distributed", _bm25_sql(BM25_QUERY_TEXT))
def search_bm25_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED block-index BM25 plan as a driver-checked entry —
    the 10^12-turn serving path (``query/distributed.py:
    distributed_bm25_local_topk_many`` over a batch of one query:
    bucket-partition-pruned + term-pushed block scan, broadcast
    doc-key-range join, cogroup→applyInPandas block-sweep kernel,
    per-range local top-k unioned and merged), checked against the SAME
    DuckDB oracle as ``search_bm25_topk``.

    The block artifacts are built inside the entry from the driver-verified
    surface token stream (``index_term_tf``) via the production encoder
    (``plans/compression.py:build_block_index`` — delta-gap + varbyte +
    block-max metadata), with ``doc_key = doc_id``; the production
    tokenizer's quirk chain (dictionary filter + stemming) is not
    SQL-expressible, so the tokenize front-end is verified by its own
    entry and pytest while THIS entry verifies the distributed query
    engine end-to-end: encode → scan-prune → sweep → merge.  The temp
    artifact dir is left for the session's lifetime (the returned frame
    reads it lazily; a few hundred KB at driver scale).

    Float note (same measure-zero class ``tests/test_similarity.py``
    documents for ``_assign_nearest``): each range's local top-k cuts on
    the UNROUNDED kernel score while the final merge (and the oracle)
    orders by the 6dp-rounded score — a doc whose unrounded score sits
    within 1e-6 of a range's rank-k boundary could round into a tie the
    oracle breaks the other way.  Not constructible from this integer-ish
    corpus (``tests/test_distributed.py`` sweeps n_ranges against the
    single-node engine, itself brute-force-verified in
    ``tests/test_bm25.py``); at the exact boundary the union would need
    k+1 rows per range to be loss-free."""
    import json
    import tempfile

    from ..plans.compression import build_block_index
    from ..plans.index_build import IndexPaths, build_wmetric
    from ..query.distributed import distributed_bm25_local_topk_many
    from ..sources.catalog import write_table

    # cached: the stream is materialized by the avgdl action, the block
    # encode, and both artifact writes below (the sibling BM25 entries
    # cache the identical frame for the same reason)
    tf = term_tf(spark, sf_dir).cache()
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    # quirk Q1 (Indexer.java:131-139): ntf = (Σtf²)^¼, fused with the BM25
    # doc length into ONE aggregate.  Nested sqrt, NOT pow(x, 0.25):
    # Indexer.java applies Math.sqrt twice, and the two correctly-rounded
    # forms differ in the last ulp.  The tokenize kernel
    # (functions/tokenizer.tokenize_batch) computes the same; if Q1 ever
    # changes, change both sites
    stats = tf.groupBy("doc_id").agg(
        F.sqrt(F.sqrt(F.sum(F.col("tf").cast("double") * F.col("tf")))).alias("ntf"),
        F.sum("tf").cast("long").alias("dl"),
    )
    avgdl = stats.agg(F.avg("dl")).first()[0] or 1.0
    out = tempfile.mkdtemp(prefix="holi_bm25_dist_")
    paths = IndexPaths(out)
    with open(paths.meta_json, "w") as f:
        json.dump(
            {
                "doc_cols": ["doc_id"],
                "n_docs": int(n),
                "n_for_idf": int(n),
                "n_turns": int(n),
                "buckets": _DIST_BUCKETS,
                "avgdl": float(avgdl),
            },
            f,
        )
    stream = tf.join(stats, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_key"),
        "term",
        F.col("tf").cast("int").alias("tf"),
        "ntf",
        "dl",
    )
    build_block_index(
        spark, paths, bucket=None, buckets=_DIST_BUCKETS,
        term_stream=stream, avgdl=float(avgdl),
    )
    write_table(
        stats.select(F.col("doc_id").cast("long").alias("doc_key"), "ntf", "dl"),
        paths.doc_stats,
    )
    # wmetric carries the reference's +1-df quirk (Q3) via the production
    # builder — ONE definition of the quirk formula, not an inline copy —
    # and the distributed path undoes it (bm25_idf(n, df - 1)), landing on
    # the oracle's df
    write_table(build_wmetric(tf, int(n)), paths.wmetric)
    tf.unpersist()
    local = distributed_bm25_local_topk_many(
        spark, paths, [BM25_QUERY_TEXT], k=10, n_ranges=_DIST_RANGES
    )
    if local is None:  # no terms / empty corpus
        return spark.createDataFrame([], "doc_id long, score double")
    # the union of per-range top-ks contains the global top-k (every
    # posting of a doc shares its key); this merge is the Spark-side twin
    # of distributed_bm25_topk_many's driver merge, rounded to the
    # oracle's 6dp
    return (
        local.select(
            F.col("doc_key").alias("doc_id"), F.round("score", 6).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


SNIPPET_TERMS = ("stream", "join", "table")
SNIPPET_W = 90  # snippet window (chars)
SNIPPET_PRE = 30  # chars of context before the anchor


def _snippets_sql(terms: tuple[str, ...]) -> str:
    vals = ", ".join(f"('{t}')" for t in terms)
    return f"""
    WITH pos AS (
      SELECT doc_id, text, strpos(lower(text), t.term) AS p
      FROM documents, (VALUES {vals}) AS t(term)
    ),
    cov AS (
      SELECT a.doc_id, a.text, a.p,
             (SELECT count(*) FROM pos q
              WHERE q.doc_id = a.doc_id AND q.p > 0
                AND q.p >= a.p - {SNIPPET_PRE}
                AND q.p < a.p + {SNIPPET_W - SNIPPET_PRE}) AS n_cov
      FROM pos a WHERE a.p > 0
    )
    SELECT doc_id, p AS pos, n_cov,
           substr(text, greatest(1, p - {SNIPPET_PRE}), {SNIPPET_W}) AS snippet
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY n_cov DESC, p) AS rn
          FROM cov)
    WHERE rn = 1
    """


@q("search_snippets", _snippets_sql(SNIPPET_TERMS))
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-anchored snippet extraction, BEST window across ALL query
    terms: each term's first occurrence is a candidate anchor; the window
    covering the most query-term occurrences wins (ties → earliest
    anchor).  The reference serves static first-300-char snippets
    (``ranker/CrawlProcess.java:49-56``); query-dependent multi-term
    windows are the step every result page needs.  Pure Catalyst
    higher-order array ops over a pruned scan — map-only at any scale."""
    docs = load(spark, sf_dir, "documents")
    pos_arr = F.array(*[F.instr(F.lower("text"), t) for t in SNIPPET_TERMS])
    anchors = F.filter(pos_arr, lambda p: p > 0)
    # per anchor: how many terms' first occurrences the window captures;
    # max of struct(cov, -pos) = best coverage, earliest anchor on ties
    scored = F.transform(
        anchors,
        lambda a: F.struct(
            F.size(
                F.filter(
                    pos_arr,
                    lambda q: (q > 0)
                    & (q >= a - SNIPPET_PRE)
                    & (q < a + (SNIPPET_W - SNIPPET_PRE)),
                )
            ).alias("cov"),
            (-a).alias("np"),
        ),
    )
    best = F.array_max(scored)
    pos = -F.col("b.np")
    return (
        docs.select("doc_id", "text", best.alias("b"))
        .where(F.col("b").isNotNull())
        .select(
            "doc_id",
            pos.alias("pos"),
            F.col("b.cov").alias("n_cov"),
            F.substring(
                "text", F.greatest(F.lit(1), pos - SNIPPET_PRE), F.lit(SNIPPET_W)
            ).alias("snippet"),
        )
    )
