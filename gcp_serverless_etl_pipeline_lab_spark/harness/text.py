"""Text-analysis harness queries: token statistics, marker-based
language-ID, quality scoring, repetition signals, winnowing-lite
fingerprints, explode-based word counts, BM25 retrieval, vocabulary
coverage, bigram-LM perplexity scoring, and the prefix-filtered fuzzy
string join (entity resolution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h60_duck, h60_sql
from ..functions.local_frames import literal_frame
from ._corpora import _DOC_CORPUS_DUCK, _doc_corpus
from ._registry import _t, register

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT)
               AS sum_alpha_tokens,
           ROUND(AVG(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' '))), 4) AS avg_distinct_ratio
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.expr("split(text, ' ', -1)")
    return (
        d.select(
            "lang",
            F.size(toks).alias("nt"),
            F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).alias("na"),
            F.size(F.array_distinct(toks)).alias("nd"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("sum_tokens"),
            F.sum("na").alias("sum_alpha_tokens"),
            F.round(F.avg(F.col("nd").cast("double") / F.col("nt")), 4).alias(
                "avg_distinct_ratio"
            ),
        )
        .orderBy("lang")
    )


_MARKERS_DUCK = {
    "en": "['the', 'a', 'of', 'and', 'to']",
    "de": "['der', 'die', 'das', 'und', 'ist']",
    "es": "['el', 'la', 'de', 'y', 'es']",
    "fr": "['le', 'la', 'et', 'de', 'est']",
}


@register(
    "text_lang_id",
    f"""
    WITH scored AS (
      SELECT lang,
             len(list_intersect(list_distinct(string_split(text, ' ')), {_MARKERS_DUCK['en']})) AS s_en,
             len(list_intersect(list_distinct(string_split(text, ' ')), {_MARKERS_DUCK['de']})) AS s_de,
             len(list_intersect(list_distinct(string_split(text, ' ')), {_MARKERS_DUCK['es']})) AS s_es,
             len(list_intersect(list_distinct(string_split(text, ' ')), {_MARKERS_DUCK['fr']})) AS s_fr
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
                  WHEN s_fr > 0 THEN 'fr'
                  ELSE 'und' END AS predicted
      FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS n FROM pred
    GROUP BY lang, predicted ORDER BY lang, predicted
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.expr("split(text, ' ', -1)"))
    scores = {
        name: F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
        ).alias(f"s_{name}")
        for name, markers in (
            ("en", ("the", "a", "of", "and", "to")),
            ("de", ("der", "die", "das", "und", "ist")),
            ("es", ("el", "la", "de", "y", "es")),
            ("fr", ("le", "la", "et", "de", "est")),
        )
    }
    scored = d.select("lang", *scores.values())
    predicted = (
        F.when(
            (F.col("s_en") > 0)
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when(
            (F.col("s_de") > 0)
            & (F.col("s_de") >= F.col("s_es"))
            & (F.col("s_de") >= F.col("s_fr")),
            "de",
        )
        .when((F.col("s_es") > 0) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_fr") > 0, "fr")
        .otherwise("und")
    )
    return (
        scored.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "text_quality_score",
    """
    WITH feat AS (
      SELECT len(string_split(text, ' ')) AS nt,
             len(list_distinct(string_split(text, ' '))) AS nd,
             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS awl
      FROM documents
    ),
    scores AS (
      SELECT 0.4 * LEAST(1.0, nt / 50.0)
           + 0.4 * (CAST(nd AS DOUBLE) / nt)
           + 0.2 * LEAST(1.0, awl / 8.0) AS score
      FROM feat
    )
    SELECT CAST(FLOOR(score * 10) AS INTEGER) AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(score), 4) AS avg_score
    FROM scores GROUP BY bucket ORDER BY bucket
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.expr("split(text, ' ', -1)")
    nt = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    awl = (F.length("text") - (nt - 1)).cast("double") / nt
    score = (
        0.4 * F.least(F.lit(1.0), nt / 50.0)
        + 0.4 * (nd.cast("double") / nt)
        + 0.2 * F.least(F.lit(1.0), awl / 8.0)
    )
    return (
        d.select(score.alias("score"))
        .select(F.floor(F.col("score") * 10).cast("int").alias("bucket"), "score")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("bucket")
    )

# ---------------------------------------------------------------------------
# Explode / UDTF-style flattening — word counts over documents
# ---------------------------------------------------------------------------


@register(
    "explode_word_counts",
    """
    SELECT word, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS docs
    FROM (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ) WHERE word <> ''
    GROUP BY word ORDER BY cnt DESC, word LIMIT 50
    """,
)
def explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral flatten (explode = built-in Generate node, the UDTF shape)
    then count + count-distinct per word. The distinct runs as a two-phase
    partial/merge aggregate on (word, doc_id) — no row ever leaves the
    executors until the final top-50, which is a TakeOrdered (no global
    sort materialization)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("doc_id").alias("docs"),
        )
        .orderBy(F.desc("cnt"), "word")
        .limit(50)
    )

# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "filter", "vector")


@register(
    "bm25_keyword_search",
    f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms,
           ROUND(SUM(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed 3-term query over the documents table.

    The reference has no retrieval surface (its queries are aggregate
    reports, `/root/reference/composer/sales_etl_dag.py:60-88`); this is
    part of the beyond-reference training-data toolkit.
    """
    from ..operators.retrieval import bm25_topk
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return bm25_topk(docs, list(_BM25_TERMS), k=10)


_HYBRID_QUERY_ID = 7
_HYBRID_DEPTH = 50
_HYBRID_RRF_K = 60


@register(
    "a0g_hybrid_search_rrf",
    f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM bm
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_HYBRID_QUERY_ID}),
    vs AS (
      SELECT vec_id AS doc_id,
             ROUND(list_sum(list_transform(range(1, 65),
               i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), 4) AS s
      FROM embeddings, q WHERE vec_id <> {_HYBRID_QUERY_ID}
      ORDER BY s DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    vecr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id) AS ann_rank
      FROM vs
    )
    SELECT doc_id,
           CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
           CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
           ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                 + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
               AS rrf_score
    FROM lex FULL OUTER JOIN vecr USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def a0g_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/retrieval.hybrid_topk_rrf, NEW round
    10): the BM25 keyword leg and the embedding-cosine leg each rank to
    depth {depth}, then fuse by Reciprocal Rank Fusion — the standard
    RAG retrieval shape (documents and embeddings share the id space in
    the test corpus). The oracle recomputes both legs and the fused
    score; RRF is two correctly-rounded divisions plus one addition in a
    fixed order, so ranks AND scores hash-match exactly."""
    from ..operators.retrieval import hybrid_topk_rrf

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    out = hybrid_topk_rrf(
        docs,
        emb,
        list(_BM25_TERMS),
        query_id=_HYBRID_QUERY_ID,
        dim=64,
        k=10,
        depth=_HYBRID_DEPTH,
        rrf_k=_HYBRID_RRF_K,
    )
    # -1 = absent from that leg (a NULL int round-trips as float NaN
    # through the oracle's pandas bridge, failing the strict comparator)
    return out.select(
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    )


# ---------------------------------------------------------------------------
# Index-served hybrid retrieval (round 11): both legs from PERSISTED
# indexes — the lexical index's bucket-pruned postings and the ANN
# index's cell-pruned vectors. The oracles mirror the exact routing:
# the BM25 CTEs from a0g plus the trained-IVF CTE machinery the
# a0e/a0f/a0g ANN oracles already hash-match (full-corpus model:
# deterministic init, 2 Lloyd iterations, ROUND(avg, 6) centroids).
# ---------------------------------------------------------------------------

# one WITH-clause body shared by both index-served oracles: corpus c,
# k-means iterations, full assignment fa (identical text to the proven
# _IVF_TRAINED_ORACLE in harness/similarity.py — imported helpers keep
# the two spellings in lockstep)
def _ivf_model_duck() -> str:
    from .similarity import _IVF_K, _ivf_dist_duck, _ivf_iter_duck

    return f"""
    c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    init AS (
      SELECT cell, e AS ce FROM (
        SELECT vec_id % {_IVF_K} AS cell, e,
               row_number() OVER (PARTITION BY vec_id % {_IVF_K} ORDER BY vec_id) AS rn
        FROM c) WHERE rn = 1
    ),
    {_ivf_iter_duck('init', 1)},
    {_ivf_iter_duck('cent1', 2)},
    fa AS (
      SELECT vec_id, e, cell FROM (
        SELECT c.vec_id, c.e, i.cell, {_ivf_dist_duck('c.e', 'i.ce')} AS dist,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_ivf_dist_duck('c.e', 'i.ce')}, i.cell) AS rn
        FROM c CROSS JOIN cent2 i) WHERE rn = 1
    )"""


_BM25_LEG_DUCK = f"""
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)"""


def _a0h_from_index_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    return f"""
    WITH {_BM25_LEG_DUCK},
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM bm
    ),
    {_ivf_model_duck()},
    hq AS (SELECT e AS qe FROM c WHERE vec_id = {_HYBRID_QUERY_ID}),
    qp AS (
      SELECT cell FROM (
        SELECT i.cell,
               row_number() OVER (ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM hq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> q.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell CROSS JOIN hq q
      WHERE fa.vec_id <> {_HYBRID_QUERY_ID}
    ),
    vecr AS (
      SELECT doc_id, ann_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    )
    SELECT doc_id,
           CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
           CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
           ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                 + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
               AS rrf_score
    FROM lex FULL OUTER JOIN vecr USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


def _hybrid_indexes(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once caches for the two serving indexes. The ANN cache uses
    the SAME tag/closure as a0e_ann_index_query, so the two queries
    literally share one stored index."""
    from ..operators.annindex import build_ann_index
    from ..operators.lexindex import build_lexical_index
    from .dedup import _ensure_cached_index
    from .similarity import _IVF_K, _sim_queries

    corpus, _ = _sim_queries(spark, sf_dir)

    def _build_ann(stage: str) -> None:
        build_ann_index(corpus, stage, 64, cells=_IVF_K, iters=2, sample_rate=1.0)

    ann = _ensure_cached_index(
        sf_dir, "annivf", _build_ann, table="embeddings.parquet"
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _build_lex(stage: str) -> None:
        build_lexical_index(docs, stage)

    # tag v2: round 12 added the doclist membership artifact to the
    # build; readers refuse a pre-doclist index instead of upgrading it,
    # and the bumped tag keeps such a cache from ever being probed
    lex = _ensure_cached_index(
        sf_dir, "lexbm25v2", _build_lex, table="documents.parquet"
    )
    return lex, ann


@register("a0h_hybrid_from_index", _a0h_from_index_oracle())
def a0h_hybrid_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval SERVED FROM THE PERSISTED INDEXES (round-11
    verdict task 1): where a0g_hybrid_search_rrf re-scans the corpus on
    both legs per query, this probes the stored BM25 postings (term-
    bucket partition pruning — no corpus token scan; plan pinned in
    tests/test_plans_round11.py) and the stored IVF index (cell
    pruning), then fuses by the same RRF arithmetic. The oracle mirrors
    the EXACT routing — BM25 ranks to depth, IVF probes the same nprobe
    cells under the bit-reproducible full-corpus k-means model the
    a0e/a0f/a0g ANN oracles already pin — so ranks AND scores hash-match
    exactly, not approximately."""
    from ..operators.lexindex import hybrid_topk_rrf_from_index
    from .similarity import _IVF_NPROBE

    lex, ann = _hybrid_indexes(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _HYBRID_QUERY_ID)
    out = hybrid_topk_rrf_from_index(
        spark,
        lex,
        ann,
        list(_BM25_TERMS),
        q,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    )


_MULTI_QUERIES: dict[int, tuple[str, ...]] = {
    3: ("filter", "vector"),
    7: ("join", "filter", "vector"),
}


def _a0h_multi_query_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    qt_rows = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(_MULTI_QUERIES.items()) for t in ts
    )
    qids = ", ".join(str(q) for q in sorted(_MULTI_QUERIES))
    return f"""
    WITH qt(query_id, term) AS (VALUES {qt_rows}),
    {_BM25_LEG_DUCK},
    bm AS (
      SELECT qt.query_id, tf.doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM qt JOIN tf USING (term) JOIN dfx USING (term)
           JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY qt.query_id, tf.doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, bm25_rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS bm25_rank
        FROM bm) WHERE bm25_rank <= {_HYBRID_DEPTH}
    ),
    {_ivf_model_duck()},
    qq AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id IN ({qids})),
    qp AS (
      SELECT query_id, qe, cell FROM (
        SELECT q.query_id, q.qe, i.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM qq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT qp.query_id, fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> qp.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
      WHERE fa.vec_id <> qp.query_id
    ),
    vecr AS (
      SELECT query_id, doc_id, ann_rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
             CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
             ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                   + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
                 AS rrf_score
      FROM lex FULL OUTER JOIN vecr USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, bm25_rank, ann_rank, rrf_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS rk
      FROM fused) WHERE rk <= 10
    ORDER BY query_id, rrf_score DESC, doc_id
    """


@register("a0h_hybrid_multi_query", _a0h_multi_query_oracle())
def a0h_hybrid_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-of-queries hybrid retrieval (round-11 verdict task 7,
    operators/lexindex.hybrid_topk_rrf_batch): a queries DataFrame in —
    two queries with DIFFERENT term lists here — per-query fused top-k
    out, both legs from the persisted indexes, rank windows partitioned
    by query_id. The BM25 leg still shuffles at most |batch terms| rows
    per doc (df computed once over the pruned postings, not per query);
    the vector leg is one multi-query IVF probe."""
    from ..operators.lexindex import hybrid_topk_rrf_batch
    from .similarity import _IVF_NPROBE

    lex, ann = _hybrid_indexes(spark, sf_dir)
    qt = literal_frame(
        spark,
        "query_id bigint, term string",
        [(qid, t) for qid, ts in sorted(_MULTI_QUERIES.items()) for t in ts],
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id").isin(list(_MULTI_QUERIES)))
    out = hybrid_topk_rrf_batch(
        spark,
        lex,
        ann,
        qt,
        qv,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
    )
    return out.select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    ).orderBy("query_id", F.col("rrf_score").desc(), "doc_id")


@register(
    "a0i_lex_doc_membership",
    """
    SELECT doc_id, 1 AS indexed FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, 0 AS indexed FROM documents
    ORDER BY doc_id
    """,
)
def a0i_lex_doc_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-membership probe of the persisted lexical index (round 12:
    operators/lexindex.indexed_doc_ids) — the primitive behind the
    nightly driver's cross-increment dedup guard and the
    hybrid-consistency invariant (streaming/nightly.run_nightly). The
    asked set mixes every indexed doc_id with a shifted copy guaranteed
    absent, so both answers are exercised; the probe reads only the
    asked ids' ``db`` bucket ranges of the doclist artifact (plan
    pinned in tests/test_plans_round12.py), never the postings. The
    oracle is the closed-form truth: the index holds exactly the
    documents table."""
    from ..operators.lexindex import indexed_doc_ids

    lex, _ = _hybrid_indexes(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    asked = docs.unionByName(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"))
    )
    member = indexed_doc_ids(spark, lex, asked).withColumn(
        "indexed", F.lit(1)
    )
    return (
        asked.join(member, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("indexed"), F.lit(0)).alias("indexed"),
        )
        .orderBy("doc_id")
    )


@register(
    "a0i_lex_lifecycle_probe",
    f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms,
           ROUND(SUM(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def a0i_lex_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 probe through the FULL lexical-index lifecycle (round 12):
    the index is built on the even half of the corpus, the odd half is
    appended as a generation, and a TIERED compaction
    (compact_lexical_index(max_generations_to_fold=2)) folds the two —
    then the standard 3-term probe runs against the folded index. The
    oracle is the identical scan-BM25 SQL as bm25_keyword_search over
    the WHOLE corpus: if the append's manifest stats (n_docs, sum_dl),
    the fold's postings union, the doclist rewrite, or the per-term df
    over the folded postings diverged from a rebuild in ANY way, ranks
    or scores would hash-mismatch. Build+append+fold are cached once per
    corpus fingerprint (the nightly operating mode pays maintenance once
    per night, then probes many queries)."""
    from ..operators.lexindex import (
        append_lexical_index,
        bm25_topk_from_index,
        build_lexical_index,
        compact_lexical_index,
    )
    from .dedup import _ensure_cached_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(stage: str) -> None:
        build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), stage)
        append_lexical_index(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1),
            stage,
            increment_id="odd-half",
        )
        compact_lexical_index(spark, stage, max_generations_to_fold=2)

    idx = _ensure_cached_index(
        sf_dir, "lexlife", _build, table="documents.parquet"
    )
    return bm25_topk_from_index(spark, idx, list(_BM25_TERMS), k=10)


# metadata predicate for the filtered-hybrid query — the first thing a
# real retrieval user asks for ("top-k among docs WHERE ..."); ~30% of
# the corpus passes, so an unfiltered top-10 post-filtered would
# under-fill while the in-leg filter fills to k
_FILTER_PRED_SQL = "lang = 'en' AND n_chars > 200"


def _a0j_filtered_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    return f"""
    WITH allowed AS (
      SELECT doc_id FROM documents WHERE {_FILTER_PRED_SQL}
    ),
    {_BM25_LEG_DUCK},
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
           JOIN allowed USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM bm
    ),
    {_ivf_model_duck()},
    hq AS (SELECT e AS qe FROM c WHERE vec_id = {_HYBRID_QUERY_ID}),
    qp AS (
      SELECT cell FROM (
        SELECT i.cell,
               row_number() OVER (ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM hq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> q.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
           JOIN allowed ON allowed.doc_id = fa.vec_id
           CROSS JOIN hq q
      WHERE fa.vec_id <> {_HYBRID_QUERY_ID}
    ),
    vecr AS (
      SELECT doc_id, ann_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    )
    SELECT doc_id,
           CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
           CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
           ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                 + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
               AS rrf_score
    FROM lex FULL OUTER JOIN vecr USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@register("a0j_hybrid_filtered", _a0j_filtered_oracle())
def a0j_hybrid_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED hybrid retrieval from the persisted indexes
    (round-12 verdict task 2): top-k among documents satisfying a
    metadata predicate (lang + length here). The allowed-doc frame comes
    from filtering the metadata table — its parquet scan keeps predicate
    pushdown — and lands INSIDE both legs before their depth ranking
    (lexical: semi-join on the bucket-pruned postings after the df
    window, so df/N stay index-level; ANN: semi-join on the cell-pruned
    candidates), so the fused top-10 fills from allowed docs instead of
    post-filtering an unfiltered top-10 down. The oracle mirrors the
    exact routing (same pinned IVF model/cells as the a0h oracles, same
    allowed semi-joins), so ranks AND scores hash-match exactly.
    Partition pruning surviving the filter is pinned in
    tests/test_plans_round13.py."""
    from ..operators.lexindex import hybrid_topk_rrf_from_index
    from .similarity import _IVF_NPROBE

    lex, ann = _hybrid_indexes(spark, sf_dir)
    allowed = (
        _t(spark, sf_dir, "documents")
        .filter(F.expr(_FILTER_PRED_SQL))
        .select("doc_id")
    )
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _HYBRID_QUERY_ID)
    out = hybrid_topk_rrf_from_index(
        spark,
        lex,
        ann,
        list(_BM25_TERMS),
        q,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
        filter_ids=allowed,
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    )


def _a0j_per_query_filter_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    qt_rows = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(_MULTI_QUERIES.items()) for t in ts
    )
    qids = ", ".join(str(q) for q in sorted(_MULTI_QUERIES))
    return f"""
    WITH qt(query_id, term) AS (VALUES {qt_rows}),
    qf AS (
      SELECT 3 AS query_id, doc_id FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 7 AS query_id, doc_id FROM documents WHERE doc_id % 3 = 0
    ),
    {_BM25_LEG_DUCK},
    bm AS (
      SELECT qt.query_id, tf.doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM qt JOIN tf USING (term) JOIN dfx USING (term)
           JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY qt.query_id, tf.doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, bm25_rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS bm25_rank
        FROM bm JOIN qf USING (query_id, doc_id)
      ) WHERE bm25_rank <= {_HYBRID_DEPTH}
    ),
    {_ivf_model_duck()},
    qq AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id IN ({qids})),
    qp AS (
      SELECT query_id, qe, cell FROM (
        SELECT q.query_id, q.qe, i.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM qq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT qp.query_id, fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> qp.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
           JOIN qf ON qf.query_id = qp.query_id AND qf.doc_id = fa.vec_id
      WHERE fa.vec_id <> qp.query_id
    ),
    vecr AS (
      SELECT query_id, doc_id, ann_rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
             CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
             ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                   + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
                 AS rrf_score
      FROM lex FULL OUTER JOIN vecr USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, bm25_rank, ann_rank, rrf_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS rk
      FROM fused) WHERE rk <= 10
    ORDER BY query_id, rrf_score DESC, doc_id
    """


@register("a0j_hybrid_per_query_filter", _a0j_per_query_filter_oracle())
def a0j_hybrid_per_query_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY filtered batch hybrid retrieval (round 13): each query
    in the batch carries its OWN allowed-doc slice — the multi-tenant
    serving shape (tenant A's query must only see tenant A's docs). The
    (query_id, doc_id) pair frame semi-joins inside both legs before
    their per-query depth ranking, so each query's fused top-k fills
    from its slice; a shared post-filter would leak cross-slice ranks.
    The oracle mirrors the exact routing with the same per-query allowed
    CTE in both legs, so ranks AND scores hash-match."""
    from ..operators.lexindex import hybrid_topk_rrf_batch
    from .similarity import _IVF_NPROBE

    lex, ann = _hybrid_indexes(spark, sf_dir)
    qt = literal_frame(
        spark,
        "query_id bigint, term string",
        [(qid, t) for qid, ts in sorted(_MULTI_QUERIES.items()) for t in ts],
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    qf = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.lit(3).cast("long").alias("query_id"), "doc_id")
        .unionByName(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                F.lit(7).cast("long").alias("query_id"), "doc_id"
            )
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id").isin(list(_MULTI_QUERIES)))
    out = hybrid_topk_rrf_batch(
        spark,
        lex,
        ann,
        qt,
        qv,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
        filter_pairs=qf,
    )
    return out.select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    ).orderBy("query_id", F.col("rrf_score").desc(), "doc_id")


@register(
    "a0j_bm25_conjunctive",
    f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms,
           ROUND(SUM(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    HAVING COUNT(*) = {len(set(_BM25_TERMS))}
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def a0j_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (match-ALL-terms) BM25 from the persisted index
    (round 13): standard BM25 ranks any-term matches, which surprises
    users expecting AND semantics — ``match_all_terms=True`` narrows the
    candidate set to docs whose postings match every distinct query term
    BEFORE top-k, so the result fills from conjunctive matches with
    unchanged per-doc scores. One filter on the already-computed
    distinct-matched-term count — no extra shuffle, term-bucket pruning
    untouched. The oracle is the scan BM25 SQL with the HAVING gate."""
    from ..operators.lexindex import bm25_topk_from_index

    lex, _ = _hybrid_indexes(spark, sf_dir)
    return bm25_topk_from_index(
        spark, lex, list(_BM25_TERMS), k=10, match_all_terms=True
    )


@register(
    "a0j_ann_membership",
    """
    SELECT vec_id, 1 AS indexed FROM embeddings
    UNION ALL
    SELECT vec_id + 10000000 AS vec_id, 0 AS indexed FROM embeddings
    ORDER BY vec_id
    """,
)
def a0j_ann_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vec-membership probe of the persisted ANN index (round 13:
    operators/annindex.indexed_vec_ids over the ``veclist`` artifact —
    the vector twin of a0i_lex_doc_membership). The asked set mixes
    every indexed vec_id with a shifted copy guaranteed absent; the
    probe reads only the asked ids' ``vb`` bucket ranges of the
    narrow veclist, never the embedding-carrying cell-partitioned
    vectors (plan pinned in tests/test_plans_round13.py — an id lookup
    prunes nothing on a CELL partitioning, so scanning vectors would
    cost the whole index). Feeds the nightly hybrid-consistency check,
    whose full-scope audit now costs asked-set size. The oracle is the
    closed-form truth: the index holds exactly the embeddings table.
    A cached index built before the veclist existed (round 13) is
    refused by the probe rather than upgraded in place."""
    from ..operators.annindex import indexed_vec_ids

    _, ann = _hybrid_indexes(spark, sf_dir)
    ids = _t(spark, sf_dir, "embeddings").select("vec_id")
    asked = ids.unionByName(
        ids.select((F.col("vec_id") + 10_000_000).alias("vec_id"))
    )
    member = indexed_vec_ids(spark, ann, asked).withColumn(
        "indexed", F.lit(1)
    )
    return (
        asked.join(member, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("indexed"), F.lit(0)).alias("indexed"),
        )
        .orderBy("vec_id")
    )


@register(
    "a0k_lex_delete_probe",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 9 <> 0
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM corpus
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms,
           ROUND(SUM(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def a0k_lex_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 probe through the DELETE lifecycle (round 13 — takedown /
    right-to-be-forgotten, operators/lexindex.delete_from_lexical_index):
    the index is built on the even half, the odd half appended, then
    every doc_id % 9 == 0 is DELETED via a generation-scoped tombstone —
    no postings rewrite; probes mask covered rows and subtract the
    removed mass from N/avgdl, and df recomputes over survivors. The
    oracle is the scan-BM25 SQL over the corpus MINUS the deleted docs:
    if the tombstone mask leaked a row, double-masked a re-append, or
    the manifest arithmetic missed one doc's length, ranks or scores
    would hash-mismatch. Build+append+delete cached per corpus
    fingerprint (maintenance once, probes many)."""
    from ..operators.lexindex import (
        append_lexical_index,
        bm25_topk_from_index,
        build_lexical_index,
        delete_from_lexical_index,
    )
    from .dedup import _ensure_cached_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(stage: str) -> None:
        build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), stage)
        append_lexical_index(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1),
            stage,
            increment_id="odd-half",
        )
        delete_from_lexical_index(
            spark,
            docs.filter(F.col("doc_id") % 9 == 0).select("doc_id"),
            stage,
            increment_id="takedown",
        )

    idx = _ensure_cached_index(
        sf_dir, "lexdel", _build, table="documents.parquet"
    )
    return bm25_topk_from_index(spark, idx, list(_BM25_TERMS), k=10)


def _a0k_ann_delete_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    return f"""
    WITH {_ivf_model_duck()},
    hq AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id IN (3, 11)),
    qp AS (
      SELECT query_id, qe, cell FROM (
        SELECT q.query_id, q.qe, i.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM hq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT qp.query_id, fa.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> qp.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
      WHERE fa.vec_id <> qp.query_id AND fa.vec_id % 7 <> 0
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           ROUND(s, 4) AS score
    FROM (
      SELECT query_id, neighbor_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, neighbor_id) AS rank
      FROM vs) WHERE rank <= 5
    ORDER BY query_id, rank
    """


@register("a0k_ann_delete_query", _a0k_ann_delete_oracle())
def a0k_ann_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe through the DELETE lifecycle (round 13,
    operators/annindex.delete_from_ann_index): the full-corpus index
    (same pinned bit-reproducible model the a0e/a0f/a0g oracles derive)
    has every vec_id % 7 == 0 deleted via a vec-bucketed tombstone; the
    standard 2-query probe must rank EXACTLY as an index holding only
    the survivors under the SAME model — the oracle re-derives the model
    on the FULL corpus (deletes never retrain; the model is pinned) and
    restricts candidates to survivors. The model epoch, cells, and tie
    rules are untouched by the delete, so ranks AND scores hash-match."""
    from ..operators.annindex import (
        build_ann_index,
        delete_from_ann_index,
        query_ann_index,
    )
    from .dedup import _ensure_cached_index
    from .similarity import _IVF_K, _IVF_NPROBE, _sim_queries

    corpus, _ = _sim_queries(spark, sf_dir)

    def _build(stage: str) -> None:
        build_ann_index(
            corpus, stage, 64, cells=_IVF_K, iters=2, sample_rate=1.0
        )
        delete_from_ann_index(
            spark,
            corpus.filter(F.col("vec_id") % 7 == 0).select("vec_id"),
            stage,
            increment_id="takedown",
        )

    idx = _ensure_cached_index(
        sf_dir, "anndel", _build, table="embeddings.parquet"
    )
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin([3, 11])).select(
        "vec_id", "embedding"
    )
    out = query_ann_index(spark, queries, idx, k=5, nprobe=_IVF_NPROBE)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "a0l_nightly_delete_probe",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM corpus
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms,
           ROUND(SUM(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def a0l_nightly_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 probe after a NIGHTLY-INGESTED delete (round-14 verdict
    task 1 — takedown as a pipeline stage, streaming/nightly.run_nightly
    ``deletes_dir``, not a hand-run API): the index is built on the even
    half; the odd half arrives as an APPEND increment and every
    doc_id % 5 == 0 as a DELETE increment in the same nightly call
    (appends land first, so a doc both appended and deleted tonight ends
    up forgotten); the merged corpus copy is purged in the same pass.
    The oracle is the scan-BM25 SQL over the corpus MINUS the deleted
    docs: if the inbox pickup, the delete-leg ordering, the ledger
    replay discipline, or the tombstone arithmetic diverged from a
    rebuild-without in ANY way, ranks or scores would hash-mismatch.
    Crash points between the delete legs are pinned separately in
    tests/test_nightly_deletes.py."""
    import os
    import shutil
    import tempfile

    from ..operators.lexindex import (
        bm25_topk_from_index,
        build_lexical_index,
    )
    from ..streaming.nightly import run_nightly
    from .dedup import _ensure_cached_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(stage: str) -> None:
        aux = tempfile.mkdtemp(prefix="nightlydel_aux_")
        try:
            build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), stage)
            docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(aux, "inbox", "epoch=1"))
            docs.filter(F.col("doc_id") % 5 == 0).select(
                "doc_id"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(aux, "deletes", "take=1")
            )
            run_nightly(
                spark,
                os.path.join(aux, "inbox"),
                lex_index_path=stage,
                merged_dir=os.path.join(aux, "merged"),
                deletes_dir=os.path.join(aux, "deletes"),
            )
        finally:
            shutil.rmtree(aux, ignore_errors=True)

    idx = _ensure_cached_index(
        sf_dir, "nightlydel", _build, table="documents.parquet"
    )
    return bm25_topk_from_index(spark, idx, list(_BM25_TERMS), k=10)


def _a0l_hybrid_conjunctive_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    return f"""
    WITH {_BM25_LEG_DUCK},
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
      HAVING COUNT(*) = {len(set(_BM25_TERMS))}
      ORDER BY score DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM bm
    ),
    {_ivf_model_duck()},
    hq AS (SELECT e AS qe FROM c WHERE vec_id = {_HYBRID_QUERY_ID}),
    qp AS (
      SELECT cell FROM (
        SELECT i.cell,
               row_number() OVER (ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM hq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> q.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
           CROSS JOIN hq q
      WHERE fa.vec_id <> {_HYBRID_QUERY_ID}
    ),
    vecr AS (
      SELECT doc_id, ann_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    )
    SELECT doc_id,
           CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
           CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
           ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                 + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
               AS rrf_score
    FROM lex FULL OUTER JOIN vecr USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@register("a0l_hybrid_conjunctive", _a0l_hybrid_conjunctive_oracle())
def a0l_hybrid_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive hybrid retrieval from the persisted indexes (round-14
    verdict task 6): ``match_all_terms`` existed on the raw BM25 probe
    since round 13 but could not be requested through hybrid serving —
    the shape a retrieval user actually deploys. The flag threads into
    the LEXICAL leg only (its candidates narrow to docs matching every
    distinct query term before depth ranking, per-doc scores unchanged);
    the ANN leg and the RRF fusion are untouched, so the fused top-10
    backfills from vector neighbors where the conjunction thins the
    lexical side. The oracle is the a0h hybrid SQL with the HAVING gate
    on the lex leg — ranks AND scores hash-match exactly."""
    from ..operators.lexindex import hybrid_topk_rrf_from_index
    from .similarity import _IVF_NPROBE

    lex, ann = _hybrid_indexes(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _HYBRID_QUERY_ID)
    out = hybrid_topk_rrf_from_index(
        spark,
        lex,
        ann,
        list(_BM25_TERMS),
        q,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
        match_all_terms=True,
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    )


# the exact-phrase query for a0l_phrase_topk — a frequent bigram in the
# synthetic corpus, so the top-10 ranks on real occurrence-count ties
_PHRASE = ("window", "join")


@register(
    "a0l_phrase_topk",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    tp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM toks
      WHERE u.term <> ''
    ),
    slots(slot, term) AS (
      VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))}
    ),
    votes AS (
      SELECT tp.doc_id, s.slot, tp.pos - s.slot AS start
      FROM tp JOIN slots s USING (term)
    ),
    occ AS (
      SELECT doc_id, start FROM votes GROUP BY doc_id, start
      HAVING COUNT(DISTINCT slot) = {len(_PHRASE)}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM occ GROUP BY doc_id
    ORDER BY n_hits DESC, doc_id LIMIT 10
    """,
)
def a0l_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase top-k from the persisted POSITIONAL index (round-14
    verdict task 4, operators/lexindex.phrase_topk_from_index): the
    index is built on the even half with ``positions=True`` and the odd
    half appended (the append maintains the positional artifact), then
    the phrase probe reads ONLY the phrase words' term-bucket ranges
    and verifies adjacency with one (doc, start) vote aggregate — word i
    at position p votes for start p-i; a start collecting every slot is
    one occurrence. The oracle re-tokenizes the corpus INDEPENDENTLY in
    DuckDB (indexed-lambda positions) and computes the same adjacency —
    if the stored positions, the append path, the bucket pruning, or the
    vote arithmetic missed one occurrence, counts or ranks would
    hash-mismatch. Term-bucket pruning is pinned in
    tests/test_plans_round14.py; the delete interaction in
    tests/test_phrase.py."""
    from ..operators.lexindex import phrase_topk_from_index

    idx = _phrase_index(spark, sf_dir)
    return phrase_topk_from_index(spark, idx, list(_PHRASE), k=10)


def _phrase_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once positional lexical index (even half built with
    positions=True, odd half appended — the append maintains the
    positional artifact), shared by the phrase queries."""
    from ..operators.lexindex import (
        append_lexical_index,
        build_lexical_index,
    )
    from .dedup import _ensure_cached_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(stage: str) -> None:
        build_lexical_index(
            docs.filter(F.col("doc_id") % 2 == 0), stage, positions=True
        )
        append_lexical_index(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1),
            stage,
            increment_id="odd-half",
        )

    return _ensure_cached_index(
        sf_dir, "lexpos", _build, table="documents.parquet"
    )


@register(
    "a0l_phrase_bm25",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    tp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM toks
      WHERE u.term <> ''
    ),
    slots(slot, term) AS (
      VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))}
    ),
    phrased AS (
      SELECT DISTINCT doc_id FROM (
        SELECT tp.doc_id, tp.pos - s.slot AS start
        FROM tp JOIN slots s USING (term)
        GROUP BY tp.doc_id, tp.pos - s.slot
        HAVING COUNT(DISTINCT s.slot) = {len(_PHRASE)}
      )
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tp
      WHERE term IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, term
    ),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms,
           ROUND(SUM(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
         JOIN phrased USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def a0l_phrase_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase search — BM25 relevance ranked AMONG documents
    containing an exact phrase (round 14): `phrase_matching_docs`
    composes as `filter_ids` into the standard indexed BM25 probe, so
    "docs containing "window join", ranked by join/filter/vector
    relevance" is two bucket-pruned probes of the same positional index
    and one semi-join — no scan, no new operator. Statistics semantics
    follow the filter contract: df/N/avgdl stay INDEX-level (the phrase
    narrows candidates, not the corpus's term rarity), which the oracle
    mirrors by joining the phrase set only into the final aggregation."""
    from ..operators.lexindex import (
        bm25_topk_from_index,
        phrase_matching_docs,
    )

    idx = _phrase_index(spark, sf_dir)
    allowed = phrase_matching_docs(spark, idx, list(_PHRASE)).select("doc_id")
    return bm25_topk_from_index(
        spark, idx, list(_BM25_TERMS), k=10, filter_ids=allowed
    )


def _a0m_hybrid_phrase_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    return f"""
    WITH {_BM25_LEG_DUCK},
    ptoks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    ptp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM ptoks
      WHERE u.term <> ''
    ),
    pslots(slot, term) AS (
      VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))}
    ),
    phrased AS (
      SELECT DISTINCT doc_id FROM (
        SELECT ptp.doc_id, ptp.pos - s.slot AS start
        FROM ptp JOIN pslots s USING (term)
        GROUP BY ptp.doc_id, ptp.pos - s.slot
        HAVING COUNT(DISTINCT s.slot) = {len(_PHRASE)}
      )
    ),
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
           JOIN phrased USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM bm
    ),
    {_ivf_model_duck()},
    hq AS (SELECT e AS qe FROM c WHERE vec_id = {_HYBRID_QUERY_ID}),
    qp AS (
      SELECT cell FROM (
        SELECT i.cell,
               row_number() OVER (ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM hq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> q.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
           JOIN phrased ph ON fa.vec_id = ph.doc_id
           CROSS JOIN hq q
      WHERE fa.vec_id <> {_HYBRID_QUERY_ID}
    ),
    vecr AS (
      SELECT doc_id, ann_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    )
    SELECT doc_id,
           CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
           CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
           ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                 + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
               AS rrf_score
    FROM lex FULL OUTER JOIN vecr USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@register("a0m_hybrid_phrase", _a0m_hybrid_phrase_oracle())
def a0m_hybrid_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-CONSTRAINED hybrid serving (round-15 verdict task 1): the
    composition a user runs first once quoted search works — "among
    documents containing the exact phrase "window join", fuse BM25
    relevance with vector similarity". The ``phrase`` kwarg on
    ``hybrid_topk_rrf_from_index`` adds ONE extra bucket-pruned
    positional probe whose matching set is ANDed into both legs as
    ``filter_ids`` BEFORE their depth ranking, so the fused top-10
    fills from phrase-matching docs; RRF arithmetic and index-level
    BM25 statistics are unchanged. The oracle re-tokenizes the corpus
    independently for the phrase set, mirrors IVF routing exactly, and
    joins the set into BOTH legs — ranks AND scores hash-match."""
    from ..operators.lexindex import hybrid_topk_rrf_from_index
    from .similarity import _IVF_NPROBE

    lex = _phrase_index(spark, sf_dir)
    _, ann = _hybrid_indexes(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _HYBRID_QUERY_ID)
    out = hybrid_topk_rrf_from_index(
        spark,
        lex,
        ann,
        list(_BM25_TERMS),
        q,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
        phrase=list(_PHRASE),
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    )


# batch of quoted searches for a0m_phrase_batch — includes a
# repeated-word phrase so the slot-vote exactness is oracle-visible
_BATCH_PHRASES: dict[int, tuple[str, ...]] = {
    0: ("window", "join"),
    1: ("the", "filter"),
    2: ("join", "join"),
}


def _a0m_phrase_batch_oracle() -> str:
    slot_rows = ", ".join(
        f"({qid}, {i}, '{t}')"
        for qid, ts in sorted(_BATCH_PHRASES.items())
        for i, t in enumerate(ts)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    tp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM toks
      WHERE u.term <> ''
    ),
    slots(query_id, slot, term) AS (VALUES {slot_rows}),
    qn AS (
      SELECT query_id, COUNT(DISTINCT slot) AS nq FROM slots GROUP BY query_id
    ),
    votes AS (
      SELECT s.query_id, tp.doc_id, s.slot, tp.pos - s.slot AS start
      FROM tp JOIN slots s USING (term)
    ),
    occ AS (
      SELECT v.query_id, v.doc_id, v.start
      FROM votes v JOIN qn USING (query_id)
      GROUP BY v.query_id, v.doc_id, v.start, qn.nq
      HAVING COUNT(DISTINCT v.slot) = qn.nq
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM occ GROUP BY query_id, doc_id
    ORDER BY query_id, doc_id
    """


@register("a0m_phrase_batch", _a0m_phrase_batch_oracle())
def a0m_phrase_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B phrases in ONE positional-index pass (round-15 verdict task 5,
    operators/lexindex.phrase_matching_docs_batch): the positions
    artifact is scanned once, pruned to the UNION of the batch's term
    buckets, and every phrase's slot frame rides a single broadcast
    join — the batch twin of the a0h/a0j batch-hybrid discipline. The
    batch includes a REPEATED-word phrase ("join join"): its two slots
    must be satisfied at distinct offsets of the same start, which the
    independent DuckDB tokenization verifies exactly. One-scan plan
    shape pinned in tests/test_plans_round15.py; batch==single parity
    in tests/test_phrase.py."""
    from ..operators.lexindex import phrase_matching_docs_batch

    idx = _phrase_index(spark, sf_dir)
    phrases = literal_frame(
        spark,
        "query_id bigint, phrase string",
        [(qid, " ".join(ts)) for qid, ts in sorted(_BATCH_PHRASES.items())],
    )
    return phrase_matching_docs_batch(spark, idx, phrases).orderBy(
        "query_id", "doc_id"
    )


@register(
    "a0m_phrase_backfill",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    tp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM toks
      WHERE u.term <> ''
    ),
    slots(slot, term) AS (
      VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))}
    ),
    votes AS (
      SELECT tp.doc_id, s.slot, tp.pos - s.slot AS start
      FROM tp JOIN slots s USING (term)
    ),
    occ AS (
      SELECT doc_id, start FROM votes GROUP BY doc_id, start
      HAVING COUNT(DISTINCT slot) = {len(_PHRASE)}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM occ GROUP BY doc_id
    ORDER BY n_hits DESC, doc_id LIMIT 10
    """,
)
def a0m_phrase_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-place positions backfill (round-15 verdict task 3,
    operators/lexindex.add_positions_to_index): the index here is built
    WITHOUT positions (two generations: even half built, odd half
    appended — neither writes a positions artifact), then upgraded
    in-place from the corpus text; the phrase probe then runs on the
    backfilled artifacts. The oracle is the SAME independent DuckDB
    tokenization as a0l_phrase_topk — a backfilled index must answer
    phrase queries byte-identically to a positions=True rebuild, which
    is exactly what hash-matching both queries against one oracle
    proves. Crash/fence tests in tests/test_phrase_backfill.py."""
    from ..operators.lexindex import (
        add_positions_to_index,
        append_lexical_index,
        build_lexical_index,
        phrase_topk_from_index,
    )
    from .dedup import _ensure_cached_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(stage: str) -> None:
        build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), stage)
        append_lexical_index(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1),
            stage,
            increment_id="odd-half",
        )
        add_positions_to_index(spark, stage, docs)

    idx = _ensure_cached_index(
        sf_dir, "lexposbf", _build, table="documents.parquet"
    )
    return phrase_topk_from_index(spark, idx, list(_PHRASE), k=10)


_PROX_WINDOW = 8


def _a0m_hybrid_proximity_oracle() -> str:
    from .similarity import _IVF_NPROBE, _ivf_dist_duck

    return f"""
    WITH {_BM25_LEG_DUCK},
    ptoks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    ptp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM ptoks
      WHERE u.term IN {str(tuple(_BM25_TERMS))}
    ),
    proxd AS (
      SELECT DISTINCT a.doc_id
      FROM ptp a JOIN ptp b
        ON a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos AND a.pos + {_PROX_WINDOW - 1}
      GROUP BY a.doc_id, a.pos
      HAVING COUNT(DISTINCT b.term) = {len(set(_BM25_TERMS))}
    ),
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
           JOIN proxd USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {_HYBRID_DEPTH}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM bm
    ),
    {_ivf_model_duck()},
    hq AS (SELECT e AS qe FROM c WHERE vec_id = {_HYBRID_QUERY_ID}),
    qp AS (
      SELECT cell FROM (
        SELECT i.cell,
               row_number() OVER (ORDER BY {_ivf_dist_duck('q.qe', 'i.ce')}, i.cell) AS rn
        FROM hq q CROSS JOIN cent2 i) WHERE rn <= {_IVF_NPROBE}
    ),
    vs AS (
      SELECT fa.vec_id AS doc_id,
             list_sum(list_transform(range(1, 65), i -> q.qe[i] * fa.e[i])) AS s
      FROM fa JOIN qp ON fa.cell = qp.cell
           JOIN proxd ph ON fa.vec_id = ph.doc_id
           CROSS JOIN hq q
      WHERE fa.vec_id <> {_HYBRID_QUERY_ID}
    ),
    vecr AS (
      SELECT doc_id, ann_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ann_rank
        FROM vs) WHERE ann_rank <= {_HYBRID_DEPTH}
    )
    SELECT doc_id,
           CAST(COALESCE(bm25_rank, -1) AS INT) AS bm25_rank,
           CAST(COALESCE(ann_rank, -1) AS INT) AS ann_rank,
           ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + bm25_rank), 0)
                 + COALESCE(1.0 / ({_HYBRID_RRF_K} + ann_rank), 0), 6)
               AS rrf_score
    FROM lex FULL OUTER JOIN vecr USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@register("a0m_hybrid_proximity", _a0m_hybrid_proximity_oracle())
def a0m_hybrid_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-CONSTRAINED hybrid serving (round 15): "among documents
    where join/filter/vector co-occur within 8 tokens, fuse BM25
    relevance with vector similarity" — the ``near_terms`` kwarg on
    ``hybrid_topk_rrf_from_index``, the order-free sibling of the
    ``phrase`` kwarg with identical composition mechanics (one extra
    bucket-pruned positional probe ANDed into both legs before depth
    ranking; RRF and index-level statistics unchanged). The oracle
    derives the proximity set via an independent DuckDB tokenization +
    positions self-join and mirrors IVF routing exactly — ranks AND
    scores hash-match."""
    from ..operators.lexindex import hybrid_topk_rrf_from_index
    from .similarity import _IVF_NPROBE

    lex = _phrase_index(spark, sf_dir)
    _, ann = _hybrid_indexes(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _HYBRID_QUERY_ID)
    out = hybrid_topk_rrf_from_index(
        spark,
        lex,
        ann,
        list(_BM25_TERMS),
        q,
        k=10,
        depth=_HYBRID_DEPTH,
        nprobe=_IVF_NPROBE,
        rrf_k=_HYBRID_RRF_K,
        near_terms=list(_BM25_TERMS),
        near_window=_PROX_WINDOW,
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("bm25_rank").cast("int"), F.lit(-1)).alias("bm25_rank"),
        F.coalesce(F.col("ann_rank").cast("int"), F.lit(-1)).alias("ann_rank"),
        "rrf_score",
    )


# batch proximity queries — different term sets per query, one shared
# window; query 1's pair is common enough that window containment does
# real filtering
_BATCH_NEAR: dict[int, tuple[str, ...]] = {
    0: ("join", "filter", "vector"),
    1: ("window", "join"),
}


def _a0m_proximity_batch_oracle() -> str:
    qt_rows = ", ".join(
        f"({qid}, '{t}')"
        for qid, ts in sorted(_BATCH_NEAR.items())
        for t in ts
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    tp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM toks
      WHERE u.term <> ''
    ),
    qt(query_id, term) AS (VALUES {qt_rows}),
    qn AS (
      SELECT query_id, COUNT(DISTINCT term) AS nq FROM qt GROUP BY query_id
    ),
    m AS (
      SELECT qt.query_id, tp.doc_id, tp.term, tp.pos
      FROM tp JOIN qt USING (term)
    ),
    anchors AS (
      SELECT a.query_id, a.doc_id, a.pos
      FROM m a JOIN m b
        ON a.query_id = b.query_id AND a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos AND a.pos + {_PROX_WINDOW - 1}
      JOIN qn ON qn.query_id = a.query_id
      GROUP BY a.query_id, a.doc_id, a.pos, qn.nq
      HAVING COUNT(DISTINCT b.term) = qn.nq
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM anchors GROUP BY query_id, doc_id
    ORDER BY query_id, doc_id
    """


@register("a0m_proximity_batch", _a0m_proximity_batch_oracle())
def a0m_proximity_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B proximity queries in one positional pass (round 15,
    operators/lexindex.proximity_matching_docs_batch): positions
    scanned once for the batch, window verified by one range-frame
    aggregate partitioned by (query_id, doc_id). The oracle re-derives
    every query's matching set via an independent DuckDB tokenization +
    positions self-join. Batch==single parity pinned in
    tests/test_phrase.py; composes into the batch hybrid via
    ``query_near_terms`` (full-coverage contract, same as
    ``query_phrases``)."""
    from ..operators.lexindex import proximity_matching_docs_batch

    idx = _phrase_index(spark, sf_dir)
    qt = literal_frame(
        spark,
        "query_id bigint, term string",
        [(qid, t) for qid, ts in sorted(_BATCH_NEAR.items()) for t in ts],
    )
    return proximity_matching_docs_batch(
        spark, idx, qt, window=_PROX_WINDOW
    ).orderBy("query_id", "doc_id")


def _index_stats_oracle() -> str:
    from .similarity import _IVF_K

    return f"""
    WITH lex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
      FROM documents
    ),
    e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings)
    SELECT n_docs, sum_dl,
           ROUND(CAST(sum_dl AS DOUBLE) / n_docs, 4) AS avgdl,
           CAST(2 AS INT) AS lex_generations,
           CAST(1 AS INT) AS lex_positions,
           n_vectors,
           CAST(64 AS INT) AS dim,
           CAST({_IVF_K} AS INT) AS cells
    FROM lex, e
    """


@register("a0m_index_stats", _index_stats_oracle())
def a0m_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index observability (round 15): ``lexical_index_stats`` +
    ``ann_index_stats`` — the one-row manifest reports an operator polls
    (live doc/vector counts, avgdl, generation/tombstone/positions
    lifecycle state) — joined over the shared serving caches. The
    oracle RECOUNTS the corpus from the source tables, which makes this
    a genuine parity check on the incremental accounting chain: n_docs
    and sum_dl in the manifest are maintained through build + append
    (+ deletes' recorded removals), never recounted, so any drift in
    that bookkeeping (a double-counted append, a miscounted delete)
    hash-mismatches here."""
    from ..operators.annindex import ann_index_stats
    from ..operators.lexindex import lexical_index_stats

    lex = _phrase_index(spark, sf_dir)
    _, ann = _hybrid_indexes(spark, sf_dir)
    ls = lexical_index_stats(spark, lex).select(
        "n_docs", "sum_dl", "avgdl",
        F.col("n_generations").alias("lex_generations"),
        F.col("positions").cast("int").alias("lex_positions"),
    )
    an = ann_index_stats(spark, ann).select("n_vectors", "dim", "cells")
    return ls.crossJoin(F.broadcast(an))


@register(
    "a0m_proximity_topk",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {{'term': t, 'pos': i}})) AS u
      FROM documents
    ),
    tp AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM toks
      WHERE u.term IN {str(tuple(_BM25_TERMS))}
    ),
    anchors AS (
      SELECT a.doc_id, a.pos
      FROM tp a JOIN tp b
        ON a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos AND a.pos + {_PROX_WINDOW - 1}
      GROUP BY a.doc_id, a.pos
      HAVING COUNT(DISTINCT b.term) = {len(set(_BM25_TERMS))}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM anchors GROUP BY doc_id
    ORDER BY n_hits DESC, doc_id LIMIT 10
    """,
)
def a0m_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search from the positional index (round 15,
    operators/lexindex.proximity_matching_docs): documents containing
    ALL of join/filter/vector within an 8-token span — the order-free
    capability between AND semantics and exact phrase ("join near
    filter"). The probe reads only the terms' term-bucket ranges
    and verifies the window with ONE range-frame aggregate over the
    matched positions (collect_set(term) over [p, p+7] per doc) — no
    per-term self-joins, no corpus window; cost tracks matched
    positions × window width. The oracle re-tokenizes independently in
    DuckDB and verifies via an explicit positions self-join — two
    different adjacency algorithms agreeing on counts AND ranks. The
    matching set composes as filter_ids into BM25/hybrid exactly like
    the phrase set (a0l_phrase_bm25's contract)."""
    from ..operators.lexindex import proximity_matching_docs

    idx = _phrase_index(spark, sf_dir)
    return (
        proximity_matching_docs(
            spark, idx, list(_BM25_TERMS), window=_PROX_WINDOW
        )
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(10)
    )


# the takedown-audit probe ids — one even (base-built) and one odd
# (append-path) doc so both index halves are audited
_AUDIT_IDS = (11, 28)


@register(
    "a0m_takedown_audit",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS nt
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      )
      WHERE term <> '' AND doc_id IN {_AUDIT_IDS}
      GROUP BY doc_id
    ),
    d AS (SELECT doc_id FROM documents WHERE doc_id IN {_AUDIT_IDS}),
    e AS (SELECT vec_id AS doc_id FROM embeddings WHERE vec_id IN {_AUDIT_IDS})
    SELECT artifact, doc_id, n_rows FROM (
      SELECT 'lex:postings' AS artifact, doc_id, nt AS n_rows FROM t
      UNION ALL SELECT 'lex:positions', doc_id, nt FROM t
      UNION ALL SELECT 'lex:doclist', doc_id, CAST(1 AS BIGINT) FROM d
      UNION ALL SELECT 'ann:vectors', doc_id, CAST(1 AS BIGINT) FROM e
      UNION ALL SELECT 'ann:veclist', doc_id, CAST(1 AS BIGINT) FROM e
    )
    ORDER BY artifact, doc_id
    """,
)
def a0m_takedown_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``verify_forgotten`` (round-15 verdict task 4,
    operators/takedown.py) — the right-to-be-forgotten audit as a
    user-facing operator: given doc_ids, one delete-sized semi-join per
    artifact family reports every row still held for them. Here the
    audit runs over LIVE docs against the shared read-only index caches
    (no takedown), so the expected report is full presence — which the
    oracle derives INDEPENDENTLY from the source tables (postings and
    positions rows per doc = its distinct non-empty terms; doclist /
    vectors / veclist = one row each). If any family's reader, mask
    wiring, or row accounting drifted, counts would hash-mismatch. The
    post-takedown semantics (served-empty, physical-until-fold,
    partial-takedown naming) are pinned in
    tests/test_takedown_verify.py; ``run_nightly(verify_deletes=True)``
    runs this audit on each night's takedowns and fails loudly on
    residue."""
    from ..operators.takedown import verify_forgotten

    lex = _phrase_index(spark, sf_dir)
    _, ann = _hybrid_indexes(spark, sf_dir)
    ids = literal_frame(
        spark, "doc_id bigint", [(i,) for i in _AUDIT_IDS]
    )
    return verify_forgotten(
        spark, ids, lex_index_path=lex, ann_index_path=ann
    ).orderBy("artifact", "doc_id")


# ---------------------------------------------------------------------------
# Vocabulary building + OOV coverage
# ---------------------------------------------------------------------------


@register(
    "vocab_coverage_report",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
    vocab AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rn FROM freq
      ) WHERE rn <= 16
    ),
    flagged AS (
      SELECT t.doc_id, CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END AS in_vocab
      FROM toks t LEFT JOIN vocab v ON v.term = t.term
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(in_vocab) AS BIGINT) AS covered_tokens,
           CAST(COUNT(*) - SUM(in_vocab) AS BIGINT) AS oov_tokens,
           COUNT(DISTINCT CASE WHEN in_vocab = 0 THEN doc_id END) AS docs_with_oov
    FROM flagged
    """,
)
def vocab_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K frequency vocabulary (total tiebreak) + corpus coverage/OOV
    accounting — the tokenizer-budget planning primitive. The vocab is a
    TakeOrdered of the term-frequency aggregate (small by construction)
    broadcast back against the token stream; the corpus shuffles once
    for the frequency count and never again. K=16 here so the toy
    vocabulary covers a meaningful but partial token share; a real run
    uses K=2^15..2^17 with identical plan shape."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = (
        freq.orderBy(F.desc("tf"), "term").limit(16).select("term")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_v", F.lit(1))), "term", "left"
    ).select("doc_id", F.coalesce(F.col("_v"), F.lit(0)).alias("in_vocab"))
    return flagged.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum("in_vocab").cast("bigint").alias("covered_tokens"),
        (F.count(F.lit(1)) - F.sum("in_vocab")).cast("bigint").alias("oov_tokens"),
        F.count_distinct(
            F.when(F.col("in_vocab") == 0, F.col("doc_id"))
        ).alias("docs_with_oov"),
    )


@register(
    "text_repetition_score",
    # Gopher/C4-style repetition signals: duplicate word-bigram fraction
    # (array expression, map-side) and top-word dominance (one
    # (doc_id, word) shuffle). Histogram over dominance deciles.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id,
             CASE WHEN len(t) < 2 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(
                         list_transform(range(1, len(t)),
                           i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE)
                       / (len(t) - 1) END AS dup_bigram_frac,
             len(t) AS nt
      FROM toks
    ),
    wc AS (
      SELECT doc_id, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(t) AS w FROM toks)
      GROUP BY doc_id, w
    ),
    topw AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac
      FROM wc GROUP BY doc_id
    )
    SELECT CAST(FLOOR(top_word_frac * 10) AS INTEGER) AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(dup_bigram_frac), 4) AS avg_dup_bigram_frac,
           ROUND(AVG(top_word_frac), 4) AS avg_top_word_frac
    FROM bi JOIN topw USING (doc_id)
    GROUP BY bucket ORDER BY bucket
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-quality signals per document, bucketed: duplicate-bigram
    fraction (how much of the text is repeated word pairs) stays a pure
    array expression; top-word dominance (most frequent word's share)
    needs one (doc_id, word) shuffle. Both are standard repetitious-junk
    filters in LLM corpus curation; a gate would drop docs past a
    threshold — the histogram here makes both distributions oracle-visible."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = d.select("doc_id", F.expr("split(text, ' ', -1)").alias("t"))
    bi = toks.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(t) < 2 THEN 0.0D ELSE "
            "1.0D - CAST(size(array_distinct(transform(sequence(1, size(t) - 1), "
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))) AS DOUBLE)"
            " / (size(t) - 1) END"
        ).alias("dup_bigram_frac"),
    )
    topw = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_word_frac"))
    )
    return (
        bi.join(topw, "doc_id")
        .select(
            F.floor(F.col("top_word_frac") * 10).cast("int").alias("bucket"),
            "dup_bigram_frac",
            "top_word_frac",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup_bigram_frac"), 4).alias("avg_dup_bigram_frac"),
            F.round(F.avg("top_word_frac"), 4).alias("avg_top_word_frac"),
        )
        .orderBy("bucket")
    )


_FP_HASH_DUCK = h60_duck("substr(text, i, 5)")


@register(
    "text_fingerprint",
    f"""
    WITH {_DOC_CORPUS_DUCK},
    fp AS (
      SELECT doc_id,
             list_min(list_transform(
               range(1, CASE WHEN length(text) >= 5 THEN length(text) - 3 ELSE 1 END),
               i -> {_FP_HASH_DUCK})) AS fp
      FROM corpus
    )
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    ORDER BY fp
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite content fingerprint: min 60-bit hash over character
    5-grams. (A production system uses a rolling Rabin-Karp hash — O(n)
    instead of O(n*w) — and keeps k mins per window; the declarative
    min-over-substring-hashes here has identical collision semantics for
    dedup grouping.)"""
    corpus = _doc_corpus(spark, sf_dir)
    fp = F.expr(
        "IF(length(text) >= 5, "
        "array_min(transform(sequence(1, length(text) - 4), i -> "
        + h60_sql("substring(text, i, 5)")
        + ")), CAST(NULL AS BIGINT))"
    )
    return (
        corpus.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )

# ---------------------------------------------------------------------------
# Bigram LM perplexity scoring — operators/lmscore.py
# ---------------------------------------------------------------------------


@register(
    "a0b_bigram_lm_scores",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    occ AS (
      SELECT doc_id, t, UNNEST(range(0, len(t) - 1)) AS i FROM toks
    ),
    pairs AS (
      SELECT doc_id, t[CAST(i AS BIGINT) + 1] AS w1,
             t[CAST(i AS BIGINT) + 2] AS w2
      FROM occ
    ),
    bg AS (
      SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
      FROM pairs GROUP BY doc_id, w1, w2
    ),
    c12 AS (
      SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(k) AS BIGINT) AS c1 FROM bg GROUP BY w1
    ),
    vcb AS (
      SELECT COUNT(DISTINCT w) AS v FROM (
        SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg
      )
    ),
    scored AS (
      SELECT bg.doc_id, bg.k, c12.c12, c1.c1, vcb.v
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vcb
    ),
    perdoc AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
             CAST(SUM(k * (
               CAST(FLOOR(ln(c12 + 1) * 1000000) AS BIGINT)
               - CAST(FLOOR(ln(c1 + v) * 1000000) AS BIGINT)
             )) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, score_micro,
           CAST((-score_micro) // n_bigrams AS BIGINT) AS neg_avg_micro
    FROM perdoc ORDER BY doc_id
    """,
)
def a0b_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: an add-one-smoothed bigram LM
    trained on the corpus scores every document's total and per-token
    log-probability in exact integer micro-nats (operators/lmscore.py —
    integer-exact so the last-ulp ln() divergence between engines can't
    flake the hash compare). The Zipf-skewed count joins run hybrid
    hot/cold: heavy-hitter bigrams/heads broadcast, the tail shuffles."""
    from ..operators.lmscore import doc_logprob_micro

    return doc_logprob_micro(
        _t(spark, sf_dir, "documents"), hot_threshold=1000
    ).orderBy("doc_id")

# ---------------------------------------------------------------------------
# Fuzzy string join (prefix-filtered trigram similarity) — operators/fuzzyjoin.py
# ---------------------------------------------------------------------------


@register(
    "a0b_fuzzy_name_join",
    """
    WITH tnames AS (
      SELECT doc_id AS tid, lower(substr(text, 1, 30)) AS s FROM documents
      WHERE length(substr(text, 1, 30)) >= 5
    ),
    pnames AS (
      -- probe = same prefix with the 28th character dropped (typo)
      SELECT doc_id AS pid,
             lower(substr(text, 1, 27) || substr(text, 29, 2)) AS s
      FROM documents
      WHERE doc_id % 3 = 0 AND length(substr(text, 1, 30)) >= 5
    ),
    tset AS (
      SELECT tid, list_distinct(list_transform(
               range(1, length(s) - 3), i -> substr(s, i, 5))) AS g
      FROM tnames WHERE length(s) >= 5
    ),
    pset AS (
      SELECT pid, list_distinct(list_transform(
               range(1, length(s) - 3), i -> substr(s, i, 5))) AS g
      FROM pnames WHERE length(s) >= 5
    ),
    pairs AS (
      SELECT p.pid, t.tid,
             CAST(len(p.g) AS BIGINT) AS n_p,
             CAST(len(t.g) AS BIGINT) AS n_t,
             CAST(len(list_intersect(p.g, t.g)) AS BIGINT) AS n_inter
      FROM pset p CROSS JOIN tset t
    ),
    scored AS (
      SELECT pid, tid, n_p, n_t, n_inter,
             ROUND(n_inter / (n_p + n_t - n_inter), 4) AS jaccard
      FROM pairs
      WHERE ROUND(n_inter / (n_p + n_t - n_inter), 4) >= 0.6
    )
    SELECT pid, tid, n_p, n_t, n_inter, jaccard
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY pid ORDER BY jaccard DESC, tid) = 1
    ORDER BY pid
    """,
)
def a0b_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: probe strings (30-char document prefixes with a
    deterministic one-character-deletion typo) fuzzy-matched against the
    corpus on 5-gram Jaccard >= 0.6 via the prefix-filtered similarity
    join (operators/fuzzyjoin.py — candidates only from each string's
    rarest grams, LOSSLESS for the threshold; never all-pairs), best
    match per probe. q=5 because this corpus's trigram vocabulary is
    tiny (375 grams — every trigram common, blocking useless; see the
    operator docstring). The oracle verifies against a brute-force
    all-pairs cross join, proving the prefix filter loses nothing."""
    from ..operators.fuzzyjoin import fuzzy_best_match

    docs = _t(spark, sf_dir, "documents")
    targets = docs.select(
        F.col("doc_id").alias("t_id"),
        F.lower(F.substring("text", 1, 30)).alias("t_name"),
    ).filter(F.length("t_name") >= 5)
    probes = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("p_id"),
            F.lower(
                F.concat(
                    F.substring("text", 1, 27), F.substring("text", 29, 2)
                )
            ).alias("p_name"),
        )
        .filter(F.length("p_name") >= 5)
    )
    return fuzzy_best_match(
        probes, targets, "p_id", "p_name", "t_id", "t_name", threshold=0.6, q=5
    ).select(
        F.col("pid"), F.col("tid"), "n_p", "n_t", "n_inter", "jaccard"
    ).orderBy("pid")


# ---------------------------------------------------------------------------
# BPE-style pre-tokenizer token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

from ..functions.text import BPE_PRETOKEN_RE, bpe_pretokens, bpe_pretokens_duck  # noqa: E402

# Deterministic augmentation so contractions / digit runs / punctuation runs
# all appear in every document (the synthetic corpus is plain lowercase
# words): `<text> it's <doc_id%100>-ish, don't stop`.
_BPE_AUG_DUCK = (
    "text || ' it''s ' || CAST(doc_id % 100 AS VARCHAR) || '-ish, don''t stop'"
)
_BPE_TOKS_DUCK = bpe_pretokens_duck("aug")


def _bpe_cat_duck(pattern: str) -> str:
    lit = pattern.replace("'", "''")
    return (
        f"CAST(len(list_filter(toks, t -> regexp_full_match(t, '{lit}')))"
        " AS BIGINT)"
    )


from ..functions.text import BPE_WS  # noqa: E402

_BPE_SPACE_RUN = f"[{BPE_WS}]+"


@register(
    "text_bpe_pretoken_stats",
    f"""
    WITH aug AS (
      SELECT doc_id, lang, {_BPE_AUG_DUCK} AS aug FROM documents
    ),
    tok AS (
      SELECT doc_id, lang, {_BPE_TOKS_DUCK} AS toks,
             len(string_split(aug, ' ')) AS n_ws
      FROM aug
    ),
    cat AS (
      SELECT lang,
             CAST(len(toks) AS BIGINT) AS n_bpe,
             CAST(n_ws AS BIGINT) AS n_ws,
             {_bpe_cat_duck(" ?[a-zA-Z]+")} AS n_letter,
             {_bpe_cat_duck(" ?[0-9]+")} AS n_digit,
             {_bpe_cat_duck("'(?:[sdmt]|ll|ve|re)")} AS n_contr,
             {_bpe_cat_duck(_BPE_SPACE_RUN)} AS n_space
      FROM tok
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(n_letter) AS BIGINT) AS sum_letter_runs,
           CAST(SUM(n_digit) AS BIGINT) AS sum_digit_runs,
           CAST(SUM(n_contr) AS BIGINT) AS sum_contractions,
           CAST(SUM(n_bpe - n_letter - n_digit - n_contr - n_space) AS BIGINT)
               AS sum_punct_runs,
           ROUND(AVG(CAST(n_bpe AS DOUBLE) / n_ws), 4) AS avg_bpe_per_ws
    FROM cat GROUP BY lang ORDER BY lang
    """,
)
def text_bpe_pretoken_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style pre-tokenizer (functions/text.py
    BPE_PRETOKEN_RE): GPT-2-shaped contraction/letter/digit/punct/space
    runs, counted per document in ONE vectorized JVM regexp pass (no
    Python, no shuffle before the per-language rollup), reported next to
    the whitespace token count. The per-category split classifies the
    SAME composite token list (filter + rlike over the extracted array),
    so categories sum exactly to the total. The budget-planning twin to
    vocab_coverage_report: BPE pre-token counts are the unit LLM token
    budgets are quoted in."""
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" it's "),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("-ish, don't stop"),
    )
    toks = bpe_pretokens(aug)

    def cat(pattern: str) -> F.Column:
        return F.size(
            F.filter(toks, lambda t: t.rlike("^(?:" + pattern + ")$"))
        ).cast("bigint")

    per_doc = d.select(
        "lang",
        F.size(toks).cast("bigint").alias("n_bpe"),
        F.size(F.split(aug, " ", -1)).cast("bigint").alias("n_ws"),
        cat(" ?[a-zA-Z]+").alias("n_letter"),
        cat(" ?[0-9]+").alias("n_digit"),
        cat("'(?:[sdmt]|ll|ve|re)").alias("n_contr"),
        cat(_BPE_SPACE_RUN).alias("n_space"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
            F.sum("n_ws").alias("sum_ws_tokens"),
            F.sum("n_letter").alias("sum_letter_runs"),
            F.sum("n_digit").alias("sum_digit_runs"),
            F.sum("n_contr").alias("sum_contractions"),
            F.sum(
                F.col("n_bpe") - F.col("n_letter") - F.col("n_digit")
                - F.col("n_contr") - F.col("n_space")
            ).alias("sum_punct_runs"),
            F.round(
                F.avg(F.col("n_bpe").cast("double") / F.col("n_ws")), 4
            ).alias("avg_bpe_per_ws"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Distributed BPE merge training (operators/bpetrain.py)
# ---------------------------------------------------------------------------

_BPE_SEP = "chr(31)"  # token separator in the oracle's string-fold; unit
# separator never appears in the fixture text, so suffix checks identify
# the accumulator's LAST token exactly

_BPE_ROUNDS = 4

# the engine's min_pair_count — the oracle must stop at the same floor,
# or a corpus whose best pair drops below it mid-training would make the
# engine return fewer merge rows than the oracle (latent hash-mismatch)
_BPE_MIN_PAIR = 2


def _bpe_round_duck(i: int) -> str:
    """One unrolled BPE round: argmax adjacent pair of w{i-1} (count
    desc, then lexicographic) FLOORED at the engine's min_pair_count —
    when no pair reaches the floor, p{i} is empty (no merge row emitted)
    and w{i} falls through to w{i-1} unchanged, so every later round is
    empty too: the SQL twin of train_bpe_merges' early break. Then the
    merged word table w{i}. The fold runs over a chr(31)-joined STRING
    accumulator (DuckDB's list_reduce seeds from the first element, so a
    list-typed accumulator isn't expressible): last-token-equals-a is an
    anchored suffix check, and a merge appends b separator-free —
    turning the trailing token a into ab, exactly the engine's array
    fold."""
    prev = f"w{i - 1}"
    return f"""
    p{i} AS (
      SELECT a, b, w FROM (
        SELECT p['a'] AS a, p['b'] AS b, SUM(cnt) AS w FROM (
          SELECT cnt,
                 unnest(list_transform(range(1, len(syms)),
                        j -> {{'a': syms[j], 'b': syms[j + 1]}})) AS p
          FROM {prev} WHERE len(syms) >= 2
        ) GROUP BY 1, 2
      ) WHERE w >= {_BPE_MIN_PAIR} ORDER BY w DESC, a, b LIMIT 1
    ),
    w{i} AS (
      SELECT word, cnt,
             string_split(
               list_reduce(syms, (acc, s) ->
                 CASE WHEN (acc = m.a OR ends_with(acc, {_BPE_SEP} || m.a))
                           AND s = m.b
                      THEN acc || s
                      ELSE acc || {_BPE_SEP} || s END),
               {_BPE_SEP}) AS syms
      FROM {prev} CROSS JOIN p{i} m
      UNION ALL
      SELECT word, cnt, syms FROM {prev}
      WHERE NOT EXISTS (SELECT 1 FROM p{i})
    )"""


@register(
    "a0f_bpe_train_merges",
    f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    w0 AS (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM wc
    ),
    {",".join(_bpe_round_duck(i) for i in range(1, _BPE_ROUNDS + 1))}
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT {i} AS merge_rank, a AS lhs, b AS rhs,"
          f" CAST(w AS BIGINT) AS pair_count FROM p{i}"
          for i in range(1, _BPE_ROUNDS + 1)
      )}
    ) ORDER BY merge_rank
    """,
)
def a0f_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (operators/bpetrain.py): learn the first
    {rounds} merges over the documents table — corpus collapses once to
    the distinct-word table, each round is one pair-count shuffle plus a
    single-row argmax gate and a map-side greedy-leftmost fold. The
    oracle unrolls the identical rounds in SQL; any divergence in pair
    counting (overlap handling), tie-breaking, or apply order (merged
    tokens immediately eligible) hash-mismatches the merge table."""
    from ..operators.bpetrain import train_bpe_merges

    d = _t(spark, sf_dir, "documents").select("text")
    merges = train_bpe_merges(d, n_merges=_BPE_ROUNDS, min_pair_count=_BPE_MIN_PAIR)
    return literal_frame(
        spark,
        "merge_rank int, lhs string, rhs string, pair_count bigint",
        [
            (i + 1, a, b, w)
            for i, (a, b, w) in enumerate(merges)
        ],
    )


@register(
    "a0f_bpe_compression_report",
    # the oracle's apply comes FREE from the training fold: w4's symbol
    # arrays ARE the tokenization of every distinct word after 4 merges,
    # so per-doc token counts are one join of doc words against it.
    f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    w0 AS (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM wc
    ),
    {",".join(_bpe_round_duck(i) for i in range(1, _BPE_ROUNDS + 1))},
    final AS (SELECT word, len(syms) AS n_tok FROM w{_BPE_ROUNDS}),
    docw AS (
      SELECT doc_id, lang, word FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents
      ) WHERE word <> ''
    ),
    per_doc AS (
      SELECT d.doc_id, d.lang,
             SUM(f.n_tok) AS n_tokens,
             SUM(length(d.word)) AS n_chars
      FROM docw d JOIN final f USING (word)
      GROUP BY d.doc_id, d.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           ROUND(AVG(CAST(n_tokens AS DOUBLE)), 4) AS avg_tokens_per_doc,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 4)
               AS chars_per_token
    FROM per_doc
    GROUP BY lang ORDER BY lang
    """,
)
def a0f_bpe_compression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-compression report for a learned BPE table: train the
    4-merge table, fold it into the DISTINCT-word table
    (apply_merges_to_word_table — token counts per word come from one
    fold per distinct word, the same economy the oracle's training CTEs
    get for free), broadcast-join counts onto the exploded doc words,
    and report per-language token counts and chars-per-token. The
    per-occurrence apply_bpe_merges spelling was measured 12.4 s at
    sf0.1 vs ~4 s for this plan — occurrence-count × merge-count
    interpreted folds lose to distinct-word folds + one map-side join;
    apply_bpe_merges remains the operator for ordered token STREAMS."""
    from ..operators.bpetrain import (
        apply_merges_to_word_table,
        train_bpe_merges,
        word_symbol_table,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    merges = train_bpe_merges(d, n_merges=_BPE_ROUNDS, min_pair_count=_BPE_MIN_PAIR)
    final = apply_merges_to_word_table(
        word_symbol_table(d.select("text")), merges
    ).select("word", F.size("syms").alias("n_tok"))
    docw = d.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ", -1)).alias("word"),
    ).filter(F.col("word") != "")
    per_doc = (
        docw.join(F.broadcast(final), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias(
                "avg_tokens_per_doc"
            ),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_tokens"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@register(
    "a0g_bpe_stored_tokenize",
    # the oracle re-derives the identical merge table via the training
    # CTEs, then per-doc token counts = sum of the final word table's
    # per-word symbol counts over each doc's words — equal to the
    # engine's per-occurrence greedy fold by construction
    f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    w0 AS (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM wc
    ),
    {",".join(_bpe_round_duck(i) for i in range(1, _BPE_ROUNDS + 1))},
    final AS (SELECT word, len(syms) AS n_tok FROM w{_BPE_ROUNDS}),
    docw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> ''
    )
    SELECT d.doc_id, CAST(SUM(f.n_tok) AS BIGINT) AS n_tokens
    FROM docw d JOIN final f USING (word)
    GROUP BY d.doc_id
    ORDER BY n_tokens DESC, d.doc_id LIMIT 20
    """,
)
def a0g_bpe_stored_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-tokenizer serving path (round-10 new capability):
    train the {rounds}-merge table ONCE, commit it as a JSON artifact
    (operators/bpetrain.save_bpe_model — atomic replace, same commit
    discipline as the index manifests), then tokenize the corpus FROM
    THE STORED MODEL (tokenize_with_stored_model → apply_bpe_merges'
    per-occurrence greedy fold, the path no oracle covered before).
    Reports the 20 longest documents by token count. The artifact is
    cached per corpus fingerprint — train-once-tokenize-many IS the
    operating mode."""
    import hashlib
    import os
    import tempfile

    from ..operators.bpetrain import (
        save_bpe_model,
        tokenize_counts_with_stored_model,
        train_bpe_merges,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    # the training constants are part of the cache key — a fingerprint on
    # the corpus stat alone would silently serve a stale model after a
    # _BPE_ROUNDS/_BPE_MIN_PAIR change (ADVICE round 10)
    fp = hashlib.md5(
        f"{src}:{st.st_size}:{st.st_mtime_ns}:"
        f"{_BPE_ROUNDS}:{_BPE_MIN_PAIR}".encode()
    ).hexdigest()[:16]
    model_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bpe_model_{fp}.json"
    )
    meta_want = {"n_merges": _BPE_ROUNDS, "min_pair_count": _BPE_MIN_PAIR}
    if os.path.exists(model_path):
        # belt-and-braces: the meta rides in the artifact, so a cache file
        # from a differently-configured writer is rejected, not served
        import json

        with open(model_path) as fh:
            if json.load(fh).get("meta") != meta_want:
                os.remove(model_path)
    if not os.path.exists(model_path):
        merges = train_bpe_merges(
            d, n_merges=_BPE_ROUNDS, min_pair_count=_BPE_MIN_PAIR
        )
        save_bpe_model(merges, model_path, meta=meta_want)
    # Round-15 optimization (guide §1.2): this query consumes only the
    # per-doc token COUNT, so the per-occurrence greedy fold of
    # tokenize_with_stored_model (occurrences × merges interpreted-HOF
    # work, its token arrays thrown away) is replaced by the counts-only
    # serving path — fold the distinct-word table once, broadcast-join
    # counts to occurrences. Result-identical (a word tokenizes
    # identically everywhere; parity pinned in tests/test_bpe_train.py);
    # measured 9.6 s → (see OPTIMIZATION_r15.md) at sf0.1.
    toks = tokenize_counts_with_stored_model(d, model_path)
    return (
        toks.select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .limit(20)
    )
