"""Plan pins for the round-13 additions — metadata-filtered retrieval
must keep both legs' bucket-range pruning (term buckets on the postings,
cells on the vectors): the allowed-set filter is a semi-join on the
candidate stream, never a reason to widen the scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import annindex, lexindex
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import (
    assert_scans_consistent,
    assert_scans_pruned,
    bucket_scans,
    plan_of as _plan,
    pushes_terms,
)

EMB_DIM = 64
TERMS = ["join", "filter", "vector"]


def test_filtered_bm25_keeps_term_bucket_pruning(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    df = lexindex.bm25_topk_from_index(
        spark, idx, TERMS, k=10, filter_ids=allowed
    )
    plan = _plan(df)
    # scan identity via the bucket-filter column, not the file path —
    # plan toString elides long paths under pytest's tmp dirs
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), "postings", "tb",
        lexindex.TERM_BUCKETS, lexindex._term_buckets(spark, TERMS),
    )
    assert pushes_terms(plan, TERMS), (
        "term predicate no longer pushed to the postings scan"
    )


def test_filtered_ann_keeps_cell_pruning(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb, idx, EMB_DIM, cells=8, iters=2, sample_rate=1.0
    )
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("doc_id")
    )
    queries = emb.filter(F.col("vec_id") == 7)
    df = annindex.query_ann_index(
        spark, queries, idx, k=5, nprobe=2, filter_ids=allowed
    )
    plan = _plan(df)
    assert_scans_consistent(
        plan, annindex._load_manifest(idx), "vectors", "cell", 8
    )


def test_vec_membership_probe_prunes_buckets_and_skips_vectors(spark, tmp_path):
    """The ANN membership probe must read the veclist pruned to the
    asked ids' vb buckets and never touch the embedding-carrying
    vectors/ (cell bucketing prunes nothing for an id lookup)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb, idx, EMB_DIM, cells=8, iters=2, sample_rate=1.0
    )
    # multiples of 128 land in vb=0 only — one bucket, one range
    asked = spark.range(0, 512, 128).select(F.col("id").alias("vec_id"))
    df = annindex.indexed_vec_ids(spark, idx, asked)
    plan = _plan(df)
    assert_scans_pruned(
        plan, annindex._load_manifest(idx), "veclist", "vb",
        annindex.VEC_BUCKETS, [0],
    )
    assert "embedding" not in plan and not bucket_scans(plan, "cell"), (
        "membership probe touches the vectors artifact"
    )
