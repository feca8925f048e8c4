"""Persisted BM25 lexical index (operators/lexindex.py): probe parity
with the scan-based retrieval.bm25_topk, append/compact lifecycle under
the shared generational discipline, term-bucket partition pruning, and
the index-served hybrid fusion."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import incremental, lexindex, retrieval
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE

TERMS = ["join", "filter", "vector"]


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_probe_matches_scan_based_bm25(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    got = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(docs, TERMS, k=10))
    assert got == want and got


def test_append_keeps_probe_equal_to_full_scan(spark, tmp_path):
    """Stats (N, avgdl) and df must stay EXACT across appends — the
    manifest carries per-generation n_docs/sum_dl, so the appended index
    scores identically to a scan over the merged corpus."""
    docs = _docs(spark)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(half_a, idx)
    assert lexindex.append_lexical_index(spark, half_b, idx, "odd") is True
    got = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(docs, TERMS, k=10))
    assert got == want and got
    # committed replay is a no-op; empty increment is a no-op
    assert lexindex.append_lexical_index(spark, half_b, idx, "odd") is False
    assert (
        lexindex.append_lexical_index(
            spark, docs.filter(F.lit(False)), idx, "empty"
        )
        is False
    )


def test_compact_folds_generations_pure_rewrite(spark, tmp_path):
    from gcp_serverless_etl_pipeline_lab_spark.operators.incremental import (
        vacuum_index,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), idx, "odd"
    )
    before = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    gen = lexindex.compact_lexical_index(spark, idx)
    man = incremental._load_manifest(idx)
    (fold,) = man["generations"]
    assert fold["gen"] == gen and man["compacted_increments"] == ["odd"]
    # stats preserved exactly through the fold
    assert fold["n_docs"] == docs.count()
    assert _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10)) == before
    # old dirs stay for in-flight readers until the shared vacuum sweeps
    assert len(os.listdir(os.path.join(idx, "postings"))) == 3
    swept = vacuum_index(idx, min_age_seconds=0.0)
    assert swept == [
        "doclist/gen=0",
        "doclist/gen=1",
        "postings/gen=0",
        "postings/gen=1",
    ]
    assert _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10)) == before
    # replayed append still a committed no-op after compaction
    assert (
        lexindex.append_lexical_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), idx, "odd"
        )
        is False
    )


def test_probe_plan_prunes_to_term_buckets(spark, tmp_path):
    """The probe must carry a partition filter on the query terms' tb
    buckets — the lever that keeps per-query cost tracking matched
    postings, not corpus size."""
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    df = lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "tb" in plan
    # and no scan of the documents table sneaks in
    assert "documents" not in plan


def test_hybrid_from_index_fuses_stored_legs(spark, tmp_path):
    """hybrid_topk_rrf_from_index == manual RRF fusion of its two
    index-served legs (rank semantics, rounding, tie-break)."""
    from gcp_serverless_etl_pipeline_lab_spark.operators.annindex import (
        build_ann_index,
        query_ann_index,
    )

    docs = _docs(spark)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    lex = str(tmp_path / "lex")
    ann = str(tmp_path / "ann")
    lexindex.build_lexical_index(docs, lex)
    build_ann_index(emb, ann, 64, cells=8, iters=2, sample_rate=1.0)
    q = emb.filter(F.col("vec_id") == 7)

    got = lexindex.hybrid_topk_rrf_from_index(
        spark, lex, ann, TERMS, q, k=10, depth=20, nprobe=3
    )
    rows = {r["doc_id"]: r for r in got.collect()}
    assert len(rows) == 10

    lex_rank = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            lexindex.bm25_topk_from_index(spark, lex, TERMS, k=20)
            .orderBy(F.col("score").desc(), "doc_id")
            .collect()
        )
    }
    ann_rank = {
        r["neighbor_id"]: r["rank"]
        for r in query_ann_index(spark, q, ann, k=20, nprobe=3).collect()
    }
    fused = {
        d: round(
            (1.0 / (60 + lex_rank[d]) if d in lex_rank else 0.0)
            + (1.0 / (60 + ann_rank[d]) if d in ann_rank else 0.0),
            6,
        )
        for d in set(lex_rank) | set(ann_rank)
    }
    want_top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got_top = sorted(
        ((r["doc_id"], r["rrf_score"]) for r in rows.values()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert got_top == want_top
    for d, r in rows.items():
        assert (r["bm25_rank"] or None) == lex_rank.get(d)
        assert (r["ann_rank"] or None) == ann_rank.get(d)
