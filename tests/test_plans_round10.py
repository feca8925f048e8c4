"""Plan pins for the round-10 additions — the physical-plan properties
the operator docstrings claim, asserted on `.executedPlan` so a plan
regression fails before it costs wall-clock at scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.harness import QUERIES
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import bucket_scans


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hybrid_rrf_broadcasts_query_vector_and_prunes_label(spark):
    """The hybrid vector leg broadcasts the ONE query vector (no corpus
    shuffle to score dots) and the embeddings scan must not read the
    label column — at 100 TB the fusion's corpus-side work is the token
    scan plus one broadcast dot-product pass."""
    df = QUERIES["a0g_hybrid_search_rrf"].builder(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "label" not in plan, "vector leg reads the label column"


def test_stored_tokenize_is_map_side_only(spark):
    """apply_bpe_merges (the stored-model serving path) is chained
    map-side array folds: the tokenization plan must contain NO shuffle
    exchange — tokenizing a corpus costs one pass however many merges
    the model holds."""
    from gcp_serverless_etl_pipeline_lab_spark.operators.bpetrain import (
        apply_bpe_merges,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    merges = [("t", "h", 0), ("th", "e", 0), ("a", "n", 0)]
    plan = _plan(apply_bpe_merges(docs, merges))
    # BroadcastExchange of the 1-row merge frames is the designed shape;
    # what must NOT appear is a data shuffle
    assert "Exchange hashpartitioning" not in plan, "tokenization shuffles"
    assert "Exchange rangepartitioning" not in plan, "tokenization sorts"


def test_temperature_mixture_t75_prunes_text_column(spark):
    """Same pruning pin as the T=0.5 mixture, on the dyadic-T path: the
    report touches only (doc_id, source) — the documents scans must not
    read the text column, and the thresholds are constant-folded (no
    rate-table join)."""
    df = QUERIES["a0g_temperature_mixture_t75"].builder(spark, SF_SMOKE)
    plan = _plan(df)
    assert "text" not in plan, "mixture plan reads the text column"
    assert "BroadcastNestedLoop" not in plan


def test_ann_compacted_index_single_scan_pin(spark, tmp_path):
    """After compact_ann_index the probe plan reads ONE vector
    generation (the flat-in-nights claim, pinned here at the plan level
    to complement the wall-clock rows in SCALE_STRESS.json)."""
    from gcp_serverless_etl_pipeline_lab_spark.operators import annindex

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, 64,
        cells=8, iters=1, sample_rate=1.0,
    )
    annindex.append_ann_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), idx, "odd"
    )
    annindex.compact_ann_index(spark, idx)
    df = annindex.query_ann_index(spark, emb.limit(2), idx, 5, 2)
    plan = _plan(df)
    scans = len(bucket_scans(plan, "cell"))
    assert scans == 1, f"compacted probe unions {scans} vector scans"
