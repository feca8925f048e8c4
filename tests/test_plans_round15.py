"""Plan pins for the round-15 additions — the phrase-constrained hybrid
must keep BOTH legs' bucket-range pruning under the phrase semi-join
(term buckets on postings AND positions, cells on vectors), and the
batch phrase probe must read the positions artifact ONCE per
generation for the whole batch, not once per phrase."""

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
    ranges_for,
)

EMB_DIM = 64
TERMS = ["join", "filter", "vector"]


def _pruned(spark, plan, idx, artifact, terms):
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), artifact, "tb",
        lexindex.TERM_BUCKETS, lexindex._term_buckets(spark, terms),
    )


def test_hybrid_phrase_keeps_both_legs_pruned(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    lex = str(tmp_path / "lex")
    ann = str(tmp_path / "ann")
    lexindex.build_lexical_index(docs, lex, positions=True)
    annindex.build_ann_index(
        emb, ann, EMB_DIM, cells=8, iters=2, sample_rate=1.0
    )
    q = emb.filter(F.col("vec_id") == 7)
    df = lexindex.hybrid_topk_rrf_from_index(
        spark, lex, ann, TERMS, q, k=10, phrase=["window", "join"]
    )
    plan = _plan(df)
    # every parquet leg stays range-pruned: the positions scan to the
    # phrase words' buckets, the postings scan to the query terms', the
    # vectors to the probed cells
    (gen0,) = lexindex._load_manifest(lex)["generations"]
    legs = {
        frozenset(lexindex._term_buckets(spark, words)): artifact
        for artifact, words in (
            ("positions", ["window", "join"]), ("postings", TERMS)
        )
    }
    scans = bucket_scans(plan, "tb")
    # the phrase's matching set feeds both legs, so positions may scan
    # once per leg
    assert {legs[frozenset(b)] for _, b in scans} == {
        "positions", "postings"
    }, "phrase-constrained hybrid lost term-bucket pruning on a lex leg"
    for ranges, buckets in scans:
        assert ranges == ranges_for(gen0, legs[frozenset(buckets)], 64, buckets)
    assert_scans_consistent(plan, annindex._load_manifest(ann), "vectors", "cell", 8)
    assert pushes_terms(plan, TERMS) and pushes_terms(plan, ["window", "join"]), (
        "term predicates no longer pushed under the phrase semi-join"
    )


def test_batch_phrase_probe_scans_positions_once_per_generation(
    spark, tmp_path
):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), idx, positions=True
    )
    assert lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), idx, "odd"
    ) is True
    phrases = spark.createDataFrame(
        [(0, "window join"), (1, "the filter"), (2, "join join")],
        "query_id bigint, phrase string",
    )
    df = lexindex.phrase_matching_docs_batch(spark, idx, phrases)
    plan = _plan(df)
    # positions is the ONLY per-corpus artifact in the plan: one scan
    # per generation for the whole batch (2 gens here), NOT per phrase
    # (3 phrases x 2 gens = 6 would mean the batch re-scans per phrase)
    n_scans = len(bucket_scans(plan, "tb"))
    assert n_scans == 2, (
        f"batch phrase probe has {n_scans} positions scans; expected one "
        "per generation (2)"
    )
    words = ["window", "join", "the", "filter"]
    _pruned(spark, plan, idx, "positions", words)
    assert pushes_terms(plan, words)


def test_batch_phrase_probe_keeps_bucket_pruning(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx, positions=True)
    phrases = spark.createDataFrame(
        [(0, "window join")], "query_id bigint, phrase string"
    )
    df = lexindex.phrase_matching_docs_batch(spark, idx, phrases)
    plan = _plan(df)
    _pruned(spark, plan, idx, "positions", ["window", "join"])


def test_proximity_probe_keeps_term_bucket_pruning(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx, positions=True)
    df = lexindex.proximity_matching_docs(spark, idx, TERMS, window=8)
    plan = _plan(df)
    _pruned(spark, plan, idx, "positions", TERMS)
    assert pushes_terms(plan, TERMS)
    # positions only — the postings' tf column must not be scanned
    assert "tf#" not in plan
