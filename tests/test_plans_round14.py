"""Plan pins for the round-14 additions — the phrase probe must keep
term-bucket range pruning (its cost contract: matched positions of the
phrase's words, never corpus size), and the conjunctive hybrid's
lexical leg must keep the BM25 probe's pruning unchanged."""

from __future__ import annotations

from gcp_serverless_etl_pipeline_lab_spark.operators import lexindex
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import assert_scans_pruned, plan_of as _plan, pushes_terms

TERMS = ["join", "filter", "vector"]


def _pruned(spark, plan, idx, artifact, terms):
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), artifact, "tb",
        lexindex.TERM_BUCKETS, lexindex._term_buckets(spark, terms),
    )


def test_phrase_probe_keeps_term_bucket_pruning(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx, positions=True)
    df = lexindex.phrase_topk_from_index(spark, idx, ["window", "join"], k=10)
    plan = _plan(df)
    _pruned(spark, plan, idx, "positions", ["window", "join"])
    assert pushes_terms(plan, ["window", "join"]), (
        "phrase-term predicate no longer pushed to the positions scan"
    )
    # the phrase probe reads the positional artifact only — tf/dl belong
    # to the postings and must not appear in its scan schema
    assert "positions" in plan and "tf#" not in plan, (
        "phrase probe scans the postings artifact instead of positions"
    )


def test_conjunctive_bm25_keeps_pruning(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    df = lexindex.bm25_topk_from_index(
        spark, idx, TERMS, k=10, match_all_terms=True
    )
    plan = _plan(df)
    _pruned(spark, plan, idx, "postings", TERMS)
    assert pushes_terms(plan, TERMS)
