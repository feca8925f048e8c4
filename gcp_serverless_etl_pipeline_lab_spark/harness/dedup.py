"""Deduplication harness queries: exact, n-gram Jaccard, MinHash-LSH,
SimHash, embedding-cosine, duplicate-cluster resolution (connected
components), incremental batch-vs-base classification, and the
sequence-level (substring / winnowed-fingerprint) family.

Duplicate documents are SYNTHESIZED deterministically (the shared tables
contain none) — see ``_corpora`` for the corpus contract. The DuckDB
oracle rebuilds the identical corpus, so detector output is verified
value-for-value, including the 60-bit MD5 hash primitive
(functions.hashing) that makes MinHash/SimHash/LSH reproducible across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h60_duck
from ..functions.local_frames import literal_frame
from ..functions.text import word_ngrams_duck
from ..operators import cluster, dedup, similarity
from ..operators import similarity as _sim
from ..operators.dedup import exact_dup_pairs, ngram_jaccard_pairs
from ..operators.seqdedup import (
    POS_RADIX,
    drop_repeated_spans,
    repeated_spans,
    winnow_repeated_report,
)
from ._corpora import (
    EMB_DIM,
    _DOC_CORPUS_DUCK,
    _VEC_CORPUS_DUCK,
    _doc_corpus,
    _vec_corpus,
)
from ._registry import _t, register

_TOKS_DUCK = "string_split(text, ' ')"
_SHINGLES_DUCK = word_ngrams_duck("t", 3)

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    WITH {_DOC_CORPUS_DUCK},
    keyed AS (SELECT doc_id, md5(text) AS k FROM corpus),
    kept AS (SELECT k, MIN(doc_id) AS kept_id FROM keyed GROUP BY k)
    SELECT kept_id, doc_id AS dropped_id
    FROM keyed JOIN kept USING (k)
    WHERE doc_id <> kept_id
    ORDER BY kept_id, dropped_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_pairs(_doc_corpus(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DOC_CORPUS_DUCK},
    toks AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM toks),
    grams AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
      FROM inter
      JOIN (SELECT doc_id, len(shingles) AS sz FROM sh) sa ON sa.doc_id = doc_a
      JOIN (SELECT doc_id, len(shingles) AS sz FROM sh) sb ON sb.doc_id = doc_b
    ) WHERE jaccard >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_df is the cluster-melt guard (see dedup.cap_document_frequency).
    # 100_000 exceeds the corpus size at every test SF, so the cap is a
    # provable no-op here and the exact-Jaccard oracle is unchanged; at
    # real scale pick ~1e4 (df above that carries no near-dup signal).
    return dedup.ngram_jaccard_pairs(
        _doc_corpus(spark, sf_dir), threshold=0.8, max_df=100_000
    )


_MH_BAND_HASH = h60_duck(
    "CAST(mh[b*4+1] AS VARCHAR) || ',' || CAST(mh[b*4+2] AS VARCHAR) || ',' || "
    "CAST(mh[b*4+3] AS VARCHAR) || ',' || CAST(mh[b*4+4] AS VARCHAR)"
)
_MH_P = dedup.MINHASH_PRIME
_MH_SIG_LIST = ", ".join(
    f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {_MH_P}))"
    for a, b in dedup.minhash_params(16)
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_DOC_CORPUS_DUCK},
    toks AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM toks),
    hs AS (
      SELECT doc_id, shingles,
             list_transform(shingles, g -> {h60_duck('g')} % {_MH_P}) AS hv
      FROM sh
    ),
    sig AS (
      SELECT doc_id, shingles, [{_MH_SIG_LIST}] AS mh
      FROM hs
    ),
    bands AS (SELECT doc_id, mh, unnest(range(0, 4)) AS b FROM sig),
    keyed AS (SELECT doc_id, b, {_MH_BAND_HASH} AS bk FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM keyed a JOIN keyed b2
        ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
                   (len(x.shingles) + len(y.shingles)
                    - len(list_intersect(x.shingles, y.shingles))), 4) AS jaccard
      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    ) WHERE jaccard >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_doc_corpus(spark, sf_dir))


_SIMHASH_TOKEN_HASH = h60_duck("g")


@register(
    "dedup_simhash",
    f"""
    WITH {_DOC_CORPUS_DUCK},
    toks AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM corpus),
    bi AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, CASE WHEN len(t) >= 2 THEN len(t) ELSE 1 END),
               i -> t[i] || ' ' || t[i + 1])) AS grams
      FROM toks
    ),
    th AS (SELECT doc_id, list_transform(grams, g -> {_SIMHASH_TOKEN_HASH}) AS hs
           FROM bi WHERE len(grams) > 0),
    sig AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                      CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS sh
      FROM th
    ),
    keyed AS (
      SELECT doc_id, sh, j, (sh >> (j * 10)) & 1023 AS ck
      FROM (SELECT doc_id, sh, unnest(range(0, 6)) AS j FROM sig)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.sh AS sha, b.doc_id AS doc_b, b.sh AS shb
      FROM keyed a JOIN keyed b
        ON a.j = b.j AND a.ck = b.ck AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sha, shb)) <= 5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.simhash_pairs(_doc_corpus(spark, sf_dir))
    return out.withColumn("hamming", F.col("hamming").cast("bigint"))


# moved to operators/similarity.bucket_duck so other harness families can share it
_bucket_duck = similarity.bucket_duck


@register(
    "dedup_embedding_cosine",
    # The engine sub-buckets each label block by deterministic sign-LSH and
    # probes hamming <= 1 (dedup.cosine_candidate_pairs); the oracle mirrors
    # that candidate predicate exactly — same pattern as minhash banding.
    f"""
    WITH {_VEC_CORPUS_DUCK},
    vb AS (SELECT vec_id, label, e, {_bucket_duck('e', EMB_DIM)} AS bkt FROM vcorpus),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                   i -> a.e[i] * b.e[i])), 4) AS cos
      FROM vb a JOIN vb b
        ON a.label = b.label AND a.vec_id < b.vec_id
       AND bit_count(xor(CAST(a.bkt AS BIGINT), CAST(b.bkt AS BIGINT))) <= 1
    )
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.99
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_cosine_pairs(_vec_corpus(spark, sf_dir), EMB_DIM, 0.99)

# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: pairs -> connected components
# ---------------------------------------------------------------------------
#
# Edge set = exact-dup pairs ∪ n-gram-Jaccard pairs (>= 0.8). The union
# matters: sub-3-token documents have no 3-gram shingles and are invisible
# to Jaccard, but byte-identical copies of them still edge via md5. The
# oracle re-derives both pair sets with the same SQL as dedup_exact /
# dedup_ngram_jaccard, then closes them with a recursive CTE; min-doc_id
# is the deterministic cluster id on both sides.


@register(
    "dedup_cluster_resolve",
    f"""
    WITH RECURSIVE {_DOC_CORPUS_DUCK},
    keyed AS (SELECT doc_id, md5(text) AS k FROM corpus),
    kept AS (SELECT k, MIN(doc_id) AS kept_id FROM keyed GROUP BY k),
    epairs AS (
      SELECT kept_id AS doc_a, doc_id AS doc_b
      FROM keyed JOIN kept USING (k) WHERE doc_id <> kept_id
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    sh AS (SELECT doc_id, {word_ngrams_duck("t", 3)} AS shingles FROM toks),
    grams AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter
        JOIN (SELECT doc_id, len(shingles) AS sz FROM sh) sa ON sa.doc_id = doc_a
        JOIN (SELECT doc_id, len(shingles) AS sz FROM sh) sb ON sb.doc_id = doc_b
      ) WHERE jaccard >= 0.8
    ),
    allp AS (SELECT * FROM epairs UNION SELECT * FROM jpairs),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM allp
      UNION
      SELECT doc_b, doc_a FROM allp
    ),
    reach(node, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    cc AS (
      SELECT node AS doc_id, LEAST(node, MIN(r)) AS cluster_id
      FROM reach GROUP BY node
    ),
    sizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id)
    SELECT cluster_id, doc_id, n_members
    FROM cc JOIN sizes USING (cluster_id)
    ORDER BY cluster_id, doc_id
    """,
)
def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _doc_corpus(spark, sf_dir)
    edges = exact_dup_pairs(corpus, ordered=False).select(
        F.col("kept_id").alias("doc_a"), F.col("dropped_id").alias("doc_b")
    ).unionAll(
        ngram_jaccard_pairs(corpus, threshold=0.8, max_df=100_000, ordered=False).select(
            "doc_a", "doc_b"
        )
    )
    return cluster.resolve_clusters(edges)


# ---------------------------------------------------------------------------
# Incremental-batch dedup: a new day's batch vs the existing base corpus
# ---------------------------------------------------------------------------
#
# Batch synthesis (mirrored in the oracle): every 5th base doc
# re-submitted byte-identical (+3M ids), every 9th with its first word
# dropped (+4M, near-dup), every 4th token-REVERSED (+5M — shares ~no
# 3-grams with the base: genuinely new).


# shared by dedup_incremental_batch (full recompute) and
# a0d_incremental_index (persisted-index probe): both must match the same
# oracle — the index is a pure materialization of the recompute plan.
_INCREMENTAL_ORACLE = f"""
    WITH batch AS (
      SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 4000000, substr(text, strpos(text, ' ') + 1)
      FROM documents WHERE doc_id % 9 = 0
      UNION ALL
      SELECT doc_id + 5000000,
             array_to_string(list_reverse(string_split(text, ' ')), ' ')
      FROM documents WHERE doc_id % 4 = 0
    ),
    exact AS (
      SELECT b.doc_id FROM batch b
      WHERE md5(b.text) IN (SELECT md5(text) FROM documents)
    ),
    tb AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
    shb AS (SELECT doc_id AS new_id, {word_ngrams_duck("t", 3)} AS shingles FROM tb),
    tbase AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shbase AS (SELECT doc_id AS base_id, {word_ngrams_duck("t", 3)} AS shingles FROM tbase),
    gn AS (SELECT new_id, unnest(shingles) AS g FROM shb),
    gb AS (SELECT base_id, unnest(shingles) AS g FROM shbase),
    inter AS (
      SELECT new_id, base_id, COUNT(*) AS i
      FROM gn JOIN gb USING (g) GROUP BY new_id, base_id
    ),
    near AS (
      SELECT DISTINCT new_id AS doc_id FROM (
        SELECT new_id, base_id,
               ROUND(CAST(i AS DOUBLE) /
               (sn.sz + sb2.sz - i), 4) AS jaccard
        FROM inter
        JOIN (SELECT new_id, len(shingles) AS sz FROM shb) sn USING (new_id)
        JOIN (SELECT base_id, len(shingles) AS sz FROM shbase) sb2 USING (base_id)
      ) WHERE jaccard >= 0.8
    )
    SELECT category, COUNT(*) AS n,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM (
      SELECT b.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                  WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                  ELSE 'new' END AS category
      FROM batch b
      LEFT JOIN exact e ON e.doc_id = b.doc_id
      LEFT JOIN near nr ON nr.doc_id = b.doc_id
    )
    GROUP BY category
    ORDER BY category
    """


def _incremental_batch(spark: SparkSession, sf_dir: str):
    from ..sources.tables import load_table

    base = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    resub = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    near = base.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    fresh = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ", -1)), " ").alias("text"),
    )
    return base, resub.unionAll(near).unionAll(fresh)


def _category_summary(out: DataFrame) -> DataFrame:
    return (
        out.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("category")
    )


@register("dedup_incremental_batch", _INCREMENTAL_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import classify_batch

    base, batch = _incremental_batch(spark, sf_dir)
    return _category_summary(classify_batch(batch, base, threshold=0.8, max_df=100_000))


@register("a0d_incremental_index", _INCREMENTAL_ORACLE)
def a0d_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB operating mode of incremental dedup: the base corpus is
    shingled/signed ONCE into a persisted index
    (operators/incremental.py:build_base_index — md5 hashes, df-capped
    gram postings partitioned by gram-hash bucket, full shingle sizes)
    and the batch probes the STORED artifacts instead of re-shingling the
    base. Must match the identical oracle as dedup_incremental_batch —
    the index is a pure materialization of the recompute plan, so any
    build/probe asymmetry (capping rule, shingler, union sizes) breaks
    the hash.

    The index is built ONCE per base corpus into a deterministic temp
    location and reused across invocations — that IS the operator's
    contract (immutable per base snapshot; build amortized over every
    probe), so a benchmark that rebuilt it per call would measure a cost
    the operating mode never pays. The cache key is a CONTENT fingerprint
    of the source parquet files (path + size + mtime_ns), not the fixture
    dir's basename (ADVICE r8): regenerated fixture data changes the
    fingerprint, so a stale index from the previous corpus can never be
    silently probed. Concurrent first-callers coordinate with
    build-to-unique-dir + atomic rename; on a failed rename the winner's
    dir is trusted only if its manifest EXISTS — otherwise (foreign or
    incomplete same-named dir) this caller probes its own staged build.
    Eager collect, same discipline as compact_execute_verify; the probe's
    pinned batch-shingle cache is scope-released after the collect."""
    from ..operators.incremental import (
        build_base_index,
        classify_batch_vs_index,
        probe_cache_scope,
    )

    base, batch = _incremental_batch(spark, sf_dir)
    idx = _ensure_cached_index(
        sf_dir, "df100k", lambda stage: build_base_index(base, stage, max_df=100_000)
    )
    with probe_cache_scope():
        agg = _category_summary(
            classify_batch_vs_index(spark, batch, idx, threshold=0.8)
        )
        rows = agg.collect()
    return literal_frame(spark, agg.schema, rows)


def _ensure_cached_index(
    sf_dir: str, tag: str, build, table: str = "documents.parquet"
) -> str:
    """Build-once cache for persisted indexes (incremental-dedup text
    index, ANN IVF index), keyed by a CONTENT fingerprint of the source
    parquet (path + size + mtime_ns — regenerated fixture data changes
    the key, so a stale index is never silently probed), a build-variant
    ``tag`` and the index layout version (a cache an earlier layout
    wrote is rebuilt, not refused). Concurrent first-callers coordinate
    with build-to-unique-dir + atomic rename; a failed rename trusts the
    winner's dir only if its manifest EXISTS, else probes this caller's
    own complete staged build."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.incremental import _MANIFEST_VERSION

    src = os.path.join(sf_dir, table)
    paths = (
        [os.path.join(src, f) for f in sorted(os.listdir(src))]
        if os.path.isdir(src)
        else [src]
    )
    st = [(p, os.stat(p).st_size, os.stat(p).st_mtime_ns) for p in paths]
    fp = hashlib.md5(repr(st).encode()).hexdigest()[:16]
    idx = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_incr_index_{fp}_{tag}_v{_MANIFEST_VERSION}",
    )
    if not os.path.exists(os.path.join(idx, "_MANIFEST.json")):
        stage = tempfile.mkdtemp(prefix="incr_idx_build_")
        build(stage)
        try:
            os.rename(stage, idx)
        except OSError:
            if os.path.exists(os.path.join(idx, "_MANIFEST.json")):
                # a racing builder won with a COMPLETE build; use theirs
                shutil.rmtree(stage, ignore_errors=True)
            else:
                # same-named dir without a manifest (foreign owner or
                # debris): probe our own complete staged build instead
                idx = stage
    return idx


@register("a0e_index_append", _INCREMENTAL_ORACLE)
def a0e_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index LIFECYCLE query (round-9 flagship): the base index is
    built on HALF the corpus (even doc_ids), the other half arrives later
    and is appended via operators/incremental.append_to_index — new
    immutable generation dirs, one atomic manifest commit, df-cap
    re-enforced across old+new — and the standard probe batch then
    classifies against the APPENDED index. The oracle is the identical
    full-corpus classify SQL as dedup_incremental_batch /
    a0d_incremental_index: if append semantics diverged from a rebuild in
    ANY way (missing postings, uncapped crossings, double-counted sizes),
    the category counts would hash-mismatch.

    Build+append are cached once per base corpus (same fingerprint
    discipline as a0d_incremental_index — the nightly operating mode pays
    the append once per merged increment, then probes many batches)."""
    from ..operators.incremental import (
        append_to_index,
        build_base_index,
        classify_batch_vs_index,
        probe_cache_scope,
    )

    base, batch = _incremental_batch(spark, sf_dir)

    def _build(stage: str) -> None:
        build_base_index(
            base.filter(F.col("doc_id") % 2 == 0), stage, max_df=100_000
        )
        append_to_index(
            spark,
            base.filter(F.col("doc_id") % 2 == 1),
            stage,
            increment_id="odd-half",
        )

    idx = _ensure_cached_index(sf_dir, "split100k", _build)
    with probe_cache_scope():
        agg = _category_summary(
            classify_batch_vs_index(spark, batch, idx, threshold=0.8)
        )
        rows = agg.collect()
    return literal_frame(spark, agg.schema, rows)


@register("a0e_index_compact", _INCREMENTAL_ORACLE)
def a0e_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index lifecycle CLOSED: build on half the corpus, append the
    other half, then operators/incremental.compact_index folds the two
    generations into one (per-gram dfs summed, capped ledger recomputed,
    dead postings physically dropped, old gen dirs deleted after the
    atomic manifest flip) — and the standard probe batch classifies
    against the COMPACTED index. Same full-corpus oracle as the other
    incremental queries: compaction must be invisible to every probe."""
    from ..operators.incremental import (
        append_to_index,
        build_base_index,
        classify_batch_vs_index,
        compact_index,
        probe_cache_scope,
    )

    base, batch = _incremental_batch(spark, sf_dir)

    def _build(stage: str) -> None:
        build_base_index(
            base.filter(F.col("doc_id") % 2 == 0), stage, max_df=100_000
        )
        append_to_index(
            spark,
            base.filter(F.col("doc_id") % 2 == 1),
            stage,
            increment_id="odd-half",
        )
        compact_index(spark, stage)

    idx = _ensure_cached_index(sf_dir, "compact100k", _build)
    with probe_cache_scope():
        agg = _category_summary(
            classify_batch_vs_index(spark, batch, idx, threshold=0.8)
        )
        rows = agg.collect()
    return literal_frame(spark, agg.schema, rows)

@register(
    "a0d_novelty_survivors",
    f"""
    WITH RECURSIVE {_DOC_CORPUS_DUCK},
    keyed AS (SELECT doc_id, md5(text) AS k FROM corpus),
    kept AS (SELECT k, MIN(doc_id) AS kept_id FROM keyed GROUP BY k),
    epairs AS (
      SELECT kept_id AS doc_a, doc_id AS doc_b
      FROM keyed JOIN kept USING (k) WHERE doc_id <> kept_id
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    sh AS (SELECT doc_id, {word_ngrams_duck("t", 3)} AS shingles FROM toks),
    grams AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter
        JOIN (SELECT doc_id, len(shingles) AS sz FROM sh) sa ON sa.doc_id = doc_a
        JOIN (SELECT doc_id, len(shingles) AS sz FROM sh) sb ON sb.doc_id = doc_b
      ) WHERE jaccard >= 0.8
    ),
    allp AS (SELECT * FROM epairs UNION SELECT * FROM jpairs),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM allp
      UNION
      SELECT doc_b, doc_a FROM allp
    ),
    reach(node, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    cc AS (
      SELECT node AS doc_id, LEAST(node, MIN(r)) AS cluster_id
      FROM reach GROUP BY node
    ),
    csizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id),
    gsizes AS (SELECT doc_id, len(shingles) AS n_grams FROM sh WHERE len(shingles) > 0),
    firstg AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    novelc AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM firstg GROUP BY 1),
    nov AS (
      SELECT s.doc_id,
             ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / s.n_grams, 4) AS novelty
      FROM gsizes s LEFT JOIN novelc n ON n.doc_id = s.doc_id
    ),
    ranked AS (
      SELECT cc.cluster_id, cc.doc_id, csizes.n_members,
             COALESCE(nov.novelty, -1.0) AS sc,
             ROW_NUMBER() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY COALESCE(nov.novelty, -1.0) DESC, cc.doc_id
             ) AS rn
      FROM cc
      JOIN csizes USING (cluster_id)
      LEFT JOIN nov ON nov.doc_id = cc.doc_id
    )
    SELECT cluster_id, doc_id AS survivor_id, n_members,
           ROUND(sc, 4) AS survivor_score
    FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """,
)
def a0d_novelty_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection (operators/cluster.
    select_survivors): resolve exact+near duplicate clusters as in
    dedup_cluster_resolve, then keep per cluster the member with the
    HIGHEST gram novelty (ties to min doc_id) instead of the min-id
    default — the corpus keeps the most-original exemplar of every
    template family. Gram-less members rank -1 (an exact dup can be too
    short to shingle); an all-unscored cluster falls back to min-id.
    Per-cluster window sort is bounded by cluster size; novelty is the
    one-gram-shuffle scorer — no pair-level work beyond the edge
    detection itself.

    Round-15 optimization: the corpus is tokenized/n-grammed ONCE into a
    localCheckpointed shingle frame shared by the Jaccard edge detection
    AND the novelty scorer (both take it via their ``shingles``
    parameter) — previously each pass re-ran the full shingle pipeline."""
    corpus = _doc_corpus(spark, sf_dir)
    sh = dedup._with_shingles(corpus).localCheckpoint(eager=True)
    edges = exact_dup_pairs(corpus, ordered=False).select(
        F.col("kept_id").alias("doc_a"), F.col("dropped_id").alias("doc_b")
    ).unionAll(
        ngram_jaccard_pairs(
            corpus, threshold=0.8, max_df=100_000, ordered=False, shingles=sh
        ).select("doc_a", "doc_b")
    )
    members = cluster.resolve_clusters(edges)
    nov = dedup.gram_novelty(corpus, shingles=sh)
    return cluster.select_survivors(members, nov, score_col="novelty").select(
        "cluster_id",
        "survivor_id",
        "n_members",
        "survivor_score",
    )


# ---------------------------------------------------------------------------
# Gram-level novelty scoring (curriculum / quality signal)
# ---------------------------------------------------------------------------


@register(
    "a0d_gram_novelty",
    f"""
    WITH {_DOC_CORPUS_DUCK},
    toks AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM toks),
    sizes AS (
      SELECT doc_id, len(shingles) AS n_grams FROM sh WHERE len(shingles) > 0
    ),
    first AS (
      SELECT g, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(shingles) AS g FROM sh)
      GROUP BY g
    ),
    novel AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM first GROUP BY 1)
    SELECT ROUND(FLOOR(novelty * 10) / 10, 1) AS novelty_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM (
      SELECT s.doc_id, s.n_grams,
             ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / s.n_grams, 4) AS novelty
      FROM sizes s LEFT JOIN novel n ON n.doc_id = s.doc_id
    )
    GROUP BY 1 ORDER BY 1
    """,
)
def a0d_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc gram novelty (operators/dedup.gram_novelty — fraction of a
    doc's distinct 3-grams first seen AT that doc), summarized as a
    decile histogram: the dup-bearing corpus puts its exact/near clones
    at novelty ~0 and the organic docs near 1, so the histogram pins both
    the scoring and the corpus construction. One gram shuffle (map-side
    MIN per gram, no pair fan-out, no df-cap needed), then doc-level
    joins — the scale shape a 100 TB curriculum scorer needs."""
    nov = _dedup.gram_novelty(_doc_corpus(spark, sf_dir))
    return (
        nov.groupBy(
            F.round(F.floor(F.col("novelty") * 10) / 10, 1).alias("novelty_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("sum_grams"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("novelty_decile")
    )


# ---------------------------------------------------------------------------
# Semantic dedup end-to-end: cosine pairs -> clusters -> survivors
# ---------------------------------------------------------------------------

from ._corpora import _VEC_CORPUS_DUCK, _vec_corpus  # noqa: E402
from ..operators import dedup as _dedup  # noqa: E402


@register(
    "semantic_dedup_survivors",
    f"""
    WITH RECURSIVE {_VEC_CORPUS_DUCK},
    vb AS (SELECT vec_id, label, e, {_sim.bucket_duck('e', 64)} AS bkt FROM vcorpus),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_sum(list_transform(range(1, 65),
                     i -> a.e[i] * b.e[i])), 4) AS cos
        FROM vb a JOIN vb b
          ON a.label = b.label AND a.vec_id < b.vec_id
         AND bit_count(xor(CAST(a.bkt AS BIGINT), CAST(b.bkt AS BIGINT))) <= 1
      ) WHERE cos >= 0.99
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON e2.src = reach.r
    ),
    cc AS (
      SELECT node AS vec_id, LEAST(node, MIN(r)) AS cluster_id
      FROM reach GROUP BY node
    ),
    sizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id)
    SELECT cluster_id, vec_id, n_members,
           vec_id = cluster_id AS is_survivor
    FROM cc JOIN sizes USING (cluster_id)
    ORDER BY cluster_id, vec_id
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup end-to-end: embedding-cosine near-dup pairs (label blocks
    + sign-LSH sub-buckets) closed into clusters by connected components;
    the min-id member survives, the rest drop. The composition the
    modern semantic-dedup recipe needs, with every stage individually
    oracled elsewhere (dedup_embedding_cosine, dedup_cluster_resolve)."""
    pairs = _dedup.embedding_cosine_pairs(_vec_corpus(spark, sf_dir), 64, 0.99)
    cc = cluster.resolve_clusters(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    return cc.select(
        "cluster_id",
        F.col("doc_id").alias("vec_id"),
        "n_members",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    ).orderBy("cluster_id", "vec_id")


# ---------------------------------------------------------------------------
# Sequence-level (substring) dedup — operators/seqdedup.py
# ---------------------------------------------------------------------------

_W, _STRIDE = 16, 8

_SEQ_OCC = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (
      SELECT doc_id, t, UNNEST(range(0, len(t) - {_W - 1}, {_STRIDE})) AS p
      FROM toks WHERE len(t) >= {_W}
    ),
    hashed AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p,
             {h60_duck(f"array_to_string(t[p + 1 : p + {_W}], ' ')")} AS h
      FROM occ
    )
"""


@register(
    "a0_seq_dedup_spans",
    f"""
    WITH {_SEQ_OCC},
    rep AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ,
             MIN(doc_id * {POS_RADIX} + p) AS firstkey
      FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    located AS (
      SELECT h, n_docs, n_occ,
             firstkey // {POS_RADIX} AS first_doc,
             firstkey % {POS_RADIX} AS first_pos
      FROM rep
    )
    SELECT l.h, l.n_docs, l.n_occ, l.first_doc, l.first_pos,
           array_to_string(tk.t[CAST(l.first_pos AS BIGINT) + 1 :
                                CAST(l.first_pos AS BIGINT) + {_W}], ' ')
             AS span_text
    FROM located l JOIN toks tk ON tk.doc_id = l.first_doc
    ORDER BY l.h
    """,
)
def a0_seq_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span report: fixed-width token-window
    hashing (w=16, stride=8) over `documents`, global-first occurrence
    via a partial-aggregatable composite MIN (no hot-key window). The
    sequence-level complement to the doc-level dedup family."""
    return repeated_spans(
        _t(spark, sf_dir, "documents"), w=_W, stride=_STRIDE, min_docs=2
    ).orderBy("h")


@register(
    "a0_seq_dedup_survivors",
    f"""
    WITH {_SEQ_OCC},
    rep AS (
      SELECT h, MIN(doc_id * {POS_RADIX} + p) AS firstkey
      FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    redundant AS (
      SELECT hd.doc_id, hd.p
      FROM hashed hd JOIN rep USING (h)
      WHERE hd.doc_id * {POS_RADIX} + hd.p <> rep.firstkey
    ),
    perdoc AS (
      SELECT doc_id, list(p ORDER BY p) AS starts,
             CAST(COUNT(*) AS BIGINT) AS n_spans_dropped
      FROM redundant GROUP BY doc_id
    ),
    expanded AS (
      SELECT tk.doc_id, tk.t,
             COALESCE(pd.n_spans_dropped, 0) AS n_spans_dropped,
             list_distinct(flatten(list_transform(
               COALESCE(pd.starts, []),
               s -> range(s, s + {_W})))) AS covered
      FROM toks tk LEFT JOIN perdoc pd USING (doc_id)
    ),
    survivors AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, n_spans_dropped,
             list_transform(
               list_filter(range(0, len(t)), i -> NOT list_contains(covered, i)),
               i -> t[CAST(i AS BIGINT) + 1]) AS kept
      FROM expanded
    )
    SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS kept_tokens,
           n_spans_dropped,
           COALESCE(array_to_string(kept, ' '), '') AS kept_text
    FROM survivors ORDER BY doc_id
    """,
)
def a0_seq_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-drop survivors: every occurrence of a cross-doc repeated
    16-token span except the corpus-wide first loses its [p, p+16) token
    positions; coverage is unioned array-locally (no per-token rows)."""
    return drop_repeated_spans(
        _t(spark, sf_dir, "documents"), w=_W, stride=_STRIDE, min_docs=2
    ).select(
        "doc_id", "n_tokens", "kept_tokens", "n_spans_dropped", "kept_text"
    ).orderBy("doc_id")

# ---------------------------------------------------------------------------
# Winnowed fingerprints (MOSS scheme) — alignment-independent seq dedup
# ---------------------------------------------------------------------------

_WK, _WW = 4, 4  # k-token grams, winnow window of w gram hashes


@register(
    "a0_winnow_repeated_fps",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {_WK + _WW - 1}
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(range(0, len(t) - {_WK - 1}), i ->
               {h60_duck(f"array_to_string(t[i + 1 : i + {_WK}], ' ')")}) AS hs
      FROM toks
    ),
    sel AS (
      SELECT doc_id,
             UNNEST(list_transform(range(0, len(hs) - {_WW - 1}), j ->
               struct_pack(
                 p := CAST(j + list_position(hs[j + 1 : j + {_WW}],
                             list_min(hs[j + 1 : j + {_WW}])) - 1 AS BIGINT),
                 h := list_min(hs[j + 1 : j + {_WW}])))) AS fp
      FROM hashed
    ),
    fps AS (SELECT DISTINCT doc_id, fp.p AS p, fp.h AS h FROM sel),
    rep AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ,
             MIN(doc_id * {POS_RADIX} + p) AS firstkey
      FROM fps GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT h, n_docs, n_occ,
           firstkey // {POS_RADIX} AS first_doc,
           firstkey % {POS_RADIX} AS first_pos
    FROM rep ORDER BY h
    """,
)
def a0_winnow_repeated_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint cross-doc matches (operators/seqdedup.py
    winnow_repeated_report): MOSS-style min-hash selection over 4-gram
    hashes, guaranteeing any shared run >= 7 tokens shares a fingerprint
    at ANY alignment — the recall complement to the stride-tiled
    a0_seq_dedup_spans."""
    return winnow_repeated_report(
        _t(spark, sf_dir, "documents"), k=_WK, w=_WW, min_docs=2
    ).orderBy("h")
