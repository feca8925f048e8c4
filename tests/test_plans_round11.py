"""Plan pins for the round-11 additions — index-served hybrid retrieval
(no corpus scan in the query path), batch hybrid leg bounds, and the
deep-BPE-apply routing."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.harness import QUERIES
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import (
    assert_scans_consistent,
    assert_scans_pruned,
    plan_of as _plan,
    pushes_terms,
)


def _indexes(spark):
    """The lexical and ANN indexes both a0h queries serve from, with
    their manifests."""
    from gcp_serverless_etl_pipeline_lab_spark.harness.text import _hybrid_indexes
    from gcp_serverless_etl_pipeline_lab_spark.operators.incremental import (
        _load_manifest,
    )

    lex, ann = _hybrid_indexes(spark, SF_SMOKE)
    return _load_manifest(lex), _load_manifest(ann)


def test_hybrid_from_index_never_scans_corpus(spark):
    """The whole point of serving from the persisted indexes: the hybrid
    query plan must read ONLY index artifacts — no documents scan (no
    corpus token explode) and no embeddings scan beyond the 1-row query
    lookup; the postings scan must read only the ranges holding the
    query terms' buckets and filter on exactly those buckets, and the
    vector scan likewise for its probed cells."""
    from gcp_serverless_etl_pipeline_lab_spark.harness.text import _BM25_TERMS
    from gcp_serverless_etl_pipeline_lab_spark.operators import lexindex

    df = QUERIES["a0h_hybrid_from_index"].builder(spark, SF_SMOKE)
    plan = _plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    # the only documents/embeddings-table scan allowed is the query
    # vector's own 1-row lookup (embeddings); the BM25 leg must not
    # touch the documents table at all
    assert not any("documents" in ln for ln in scan_lines), (
        "hybrid-from-index scans the documents table"
    )
    lex_man, ann_man = _indexes(spark)
    assert_scans_pruned(
        plan, lex_man, "postings", "tb", lexindex.TERM_BUCKETS,
        lexindex._term_buckets(spark, list(_BM25_TERMS)),
    )
    assert_scans_consistent(plan, ann_man, "vectors", "cell", len(ann_man["model"]))


def test_hybrid_batch_legs_are_bounded(spark):
    """Batch hybrid: the BM25 leg still prunes the postings to the
    batch's term buckets (shuffles at most |batch terms| rows per doc)
    and the fused ranking windows are PARTITIONED BY query_id — no
    global rank across queries."""
    df = QUERIES["a0h_hybrid_multi_query"].builder(spark, SF_SMOKE)
    plan = _plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert not any("documents" in ln for ln in scan_lines)
    lex_man, _ = _indexes(spark)
    assert_scans_consistent(plan, lex_man, "postings", "tb", 64)
    assert "partitionBy=[query_id" in plan.replace(" ", "") or (
        "windowspecdefinition(query_id" in plan
    ), "rank windows are not partitioned by query_id"


def test_bm25_probe_reads_only_matched_buckets(spark, tmp_path):
    """bm25_topk_from_index: the postings scan is statically pruned to
    the query terms' buckets AND pushes the term equality down — the
    physical guarantee behind 'per-query cost tracks matched postings,
    not corpus size'."""
    from gcp_serverless_etl_pipeline_lab_spark.operators import lexindex

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    terms = ["join", "vector"]
    df = lexindex.bm25_topk_from_index(spark, idx, terms, k=5)
    plan = _plan(df)
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), "postings", "tb",
        lexindex.TERM_BUCKETS, lexindex._term_buckets(spark, terms),
    )
    assert pushes_terms(plan, terms), "term filter not pushed to the postings scan"


def test_deep_bpe_apply_routes_to_join_back(spark):
    """At DEEP_APPLY_THRESHOLD merges apply_bpe_merges must switch to
    the join-back spelling (distinct-word fold + regroup — shuffles
    appear) instead of chaining one HOF node per merge (whose plan the
    analyzer chokes on at real vocabulary depth); below it the chained
    no-shuffle spelling survives untouched (round-10 pin)."""
    from gcp_serverless_etl_pipeline_lab_spark.operators.bpetrain import (
        DEEP_APPLY_THRESHOLD,
        apply_bpe_merges,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    shallow = [("t", "h", 0), ("th", "e", 0)]
    deep = shallow + [
        (f"Z{i}", f"Y{i}", 1) for i in range(DEEP_APPLY_THRESHOLD)
    ]
    p_shallow = _plan(apply_bpe_merges(docs, shallow))
    assert "Exchange hashpartitioning" not in p_shallow
    p_deep = _plan(apply_bpe_merges(docs, deep))
    assert "posexplode" in p_deep or "PosExplode" in p_deep, (
        "deep apply did not route to the join-back spelling"
    )
