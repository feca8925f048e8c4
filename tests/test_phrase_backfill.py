"""In-place positions backfill (round-15 verdict task 3,
operators/lexindex.add_positions_to_index): an existing non-positional
index starts serving phrase queries without a rebuild. The manifest
flag flip is the one commit point — crash states leave the flag off and
replay idempotently; a concurrent append is fenced loudly; the corpus
must cover every live doc (no silent phrase-recall holes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import incremental, lexindex
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE

PHRASE = ["window", "join"]


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _build_plain_two_gen(spark, docs, idx):
    lexindex.build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    assert lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), idx, "odd"
    ) is True


def test_backfill_parity_with_positional_build(spark, tmp_path):
    docs = _docs(spark)
    plain = str(tmp_path / "plain")
    posidx = str(tmp_path / "pos")
    _build_plain_two_gen(spark, docs, plain)
    lexindex.build_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), posidx, positions=True
    )
    lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), posidx, "odd"
    )
    with pytest.raises(ValueError, match="add_positions_to_index"):
        lexindex.phrase_matching_docs(spark, plain, PHRASE).count()
    gens = lexindex.add_positions_to_index(spark, plain, docs)
    assert len(gens) == 2
    got = _rows(lexindex.phrase_topk_from_index(spark, plain, PHRASE, k=10))
    want = _rows(lexindex.phrase_topk_from_index(spark, posidx, PHRASE, k=10))
    assert got == want and got
    # idempotent: a second call is a no-op
    assert lexindex.add_positions_to_index(spark, plain, docs) == []


def test_backfill_requires_full_corpus_coverage(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "plain")
    _build_plain_two_gen(spark, docs, idx)
    partial = docs.filter(F.col("doc_id") % 3 != 0)
    with pytest.raises(ValueError, match="missing .* live indexed docs"):
        lexindex.add_positions_to_index(spark, idx, partial)
    # refusal is clean: flag still off, a full-corpus retry completes
    assert not incremental._load_manifest(idx).get("positions")
    assert len(lexindex.add_positions_to_index(spark, idx, docs)) == 2


def test_backfill_crash_before_flip_is_replayable(spark, tmp_path, monkeypatch):
    docs = _docs(spark)
    idx = str(tmp_path / "plain")
    _build_plain_two_gen(spark, docs, idx)
    real = lexindex._write_positions_gen
    calls = {"n": 0}

    def crashy(positions, path, gen):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash")
        real(positions, path, gen)

    monkeypatch.setattr(lexindex, "_write_positions_gen", crashy)
    with pytest.raises(RuntimeError, match="simulated crash"):
        lexindex.add_positions_to_index(spark, idx, docs)
    monkeypatch.undo()
    # the flag never flipped: probes still refuse, orphans invisible
    assert not incremental._load_manifest(idx).get("positions")
    with pytest.raises(ValueError, match="positions=True"):
        lexindex.phrase_matching_docs(spark, idx, PHRASE).count()
    # replay completes to the exact positional answer
    assert len(lexindex.add_positions_to_index(spark, idx, docs)) == 2
    posidx = str(tmp_path / "pos")
    lexindex.build_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), posidx, positions=True
    )
    lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), posidx, "odd"
    )
    assert _rows(
        lexindex.phrase_topk_from_index(spark, idx, PHRASE, k=10)
    ) == _rows(lexindex.phrase_topk_from_index(spark, posidx, PHRASE, k=10))


def test_backfill_concurrent_append_fence(spark, tmp_path, monkeypatch):
    docs = _docs(spark)
    idx = str(tmp_path / "plain")
    lexindex.build_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), idx
    )
    late = docs.filter(F.col("doc_id") % 2 == 1)
    real = lexindex._write_positions_gen
    state = {"fired": False}

    def append_mid_backfill(positions, path, gen):
        real(positions, path, gen)
        if not state["fired"]:
            state["fired"] = True
            assert lexindex.append_lexical_index(
                spark, late, idx, "late"
            ) is True

    monkeypatch.setattr(lexindex, "_write_positions_gen", append_mid_backfill)
    with pytest.raises(RuntimeError, match="concurrent append"):
        lexindex.add_positions_to_index(spark, idx, docs)
    monkeypatch.undo()
    # the append survived; the re-run backfills BOTH generations
    assert not incremental._load_manifest(idx).get("positions")
    gens = lexindex.add_positions_to_index(spark, idx, docs)
    assert len(gens) == 2
    got = _rows(lexindex.phrase_topk_from_index(spark, idx, PHRASE, k=10))
    assert got


def test_backfill_skips_deleted_docs_and_masks(spark, tmp_path):
    """A deleted doc need not be in the corpus (the purge removed it);
    the backfilled index must not serve phrases from it."""
    docs = _docs(spark)
    idx = str(tmp_path / "plain")
    _build_plain_two_gen(spark, docs, idx)
    # pick a doc that matches the phrase so the mask is observable
    posidx = str(tmp_path / "pos")
    lexindex.build_lexical_index(docs, posidx, positions=True)
    match_ids = sorted(
        r["doc_id"]
        for r in lexindex.phrase_matching_docs(spark, posidx, PHRASE).collect()
    )
    assert match_ids
    vid = match_ids[0]
    ids = spark.createDataFrame([(vid,)], "doc_id bigint")
    assert lexindex.delete_from_lexical_index(spark, ids, idx, "take") is True
    survivors_corpus = docs.filter(F.col("doc_id") != vid)
    gens = lexindex.add_positions_to_index(spark, idx, survivors_corpus)
    assert len(gens) == 2
    got = {
        r["doc_id"]
        for r in lexindex.phrase_matching_docs(spark, idx, PHRASE).collect()
    }
    assert vid not in got
    assert got == set(match_ids) - {vid}
