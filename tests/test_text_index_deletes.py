"""Deletes for the text near-dup index (round-14 verdict task 2): a
taken-down doc must (a) stop matching future ingests as "already seen"
— exact AND near — so legitimate re-ingest is not silently suppressed,
and (b) leave no fingerprint behind once compaction applies the
tombstone physically. Same generation-scoped design as the lexical/ANN
twins (tests/test_index_deletes.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import incremental
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _ids(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


def _cls(spark, batch, path):
    return {
        r["doc_id"]: r["category"]
        for r in incremental.classify_batch_vs_index(spark, batch, path).collect()
    }


def test_text_delete_stops_exact_and_near_matching(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "text")
    incremental.build_base_index(docs, idx)
    doomed = docs.filter(F.col("doc_id") % 7 == 0)
    survivors = docs.filter(F.col("doc_id") % 7 != 0)
    assert incremental.delete_from_index(
        spark, doomed.select("doc_id"), idx, "take1"
    ) is True
    # replay is a committed no-op
    assert incremental.delete_from_index(
        spark, doomed.select("doc_id"), idx, "take1"
    ) is False
    # the deleted docs' own text no longer matches as already-seen
    assert incremental.exact_dups_vs_index(spark, doomed, idx).count() == 0
    nd = incremental.near_dups_vs_index(spark, doomed, idx, threshold=0.99)
    doomed_ids = {r["doc_id"] for r in doomed.select("doc_id").collect()}
    assert not doomed_ids & {r["base_id"] for r in nd.collect()}
    # full classify parity vs an index rebuilt WITHOUT the deleted docs
    rebuilt = str(tmp_path / "rebuilt")
    incremental.build_base_index(survivors, rebuilt)
    got = _cls(spark, docs, idx)
    want = _cls(spark, docs, rebuilt)
    assert got == want
    # a doomed doc may still classify exact_dup via a SURVIVING twin with
    # identical text (the corpus carries injected duplicates — the
    # rebuild agrees, which is the real contract); but at least one
    # deleted doc must have flipped to "new"
    assert any(got[d] == "new" for d in doomed_ids)


def test_text_delete_nonmember_is_noop(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "text")
    incremental.build_base_index(docs, idx)
    ghost = _ids(spark, [987_654_321])
    assert incremental.delete_from_index(spark, ghost, idx, "ghost") is False
    assert not incremental._load_manifest(idx).get("tombstones", [])
    # the id was NOT consumed: a later real delete under it still works
    victim = docs.orderBy("doc_id").limit(1).select("doc_id")
    assert incremental.delete_from_index(spark, victim, idx, "ghost") is True


def test_text_delete_then_reingest_works(spark, tmp_path):
    """THE takedown scenario: without the delete, the index remembers
    the doc forever and suppresses its legitimate re-ingest."""
    docs = _docs(spark)
    idx = str(tmp_path / "text")
    incremental.build_base_index(docs, idx)
    victim = docs.orderBy("doc_id").limit(1)
    vid = victim.collect()[0]["doc_id"]
    vtext = victim.collect()[0]["text"]
    assert incremental.delete_from_index(
        spark, victim.select("doc_id"), idx, "take"
    ) is True
    # re-ingest of the SAME content is no longer "already seen"
    batch = spark.createDataFrame([(vid, vtext)], "doc_id bigint, text string")
    assert incremental.exact_dups_vs_index(spark, batch, idx).count() == 0
    assert incremental.append_to_index(spark, batch, idx, "reingest") is True
    # ...and after the re-ingest it matches again (new generation is
    # above the tombstone's cover)
    assert incremental.exact_dups_vs_index(spark, batch, idx).count() == 1
    nd = incremental.near_dups_vs_index(spark, batch, idx, threshold=0.99)
    assert {r["base_id"] for r in nd.collect()} == {vid}


def test_text_compact_applies_tombstones_and_retires(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    inc = docs.filter(F.col("doc_id") % 3 == 1)
    incremental.build_base_index(base, idx)
    assert incremental.append_to_index(spark, inc, idx, "inc1") is True
    doomed = base.filter(F.col("doc_id") % 2 == 0)
    assert incremental.delete_from_index(
        spark, doomed.select("doc_id"), idx, "take"
    ) is True
    gen = incremental.compact_index(spark, idx)
    man = incremental._load_manifest(idx)
    # fully absorbed: tombstone left the manifest, id is consumed
    assert not man.get("tombstones", [])
    assert "take" in man.get("applied_deletes", [])
    assert incremental.delete_from_index(
        spark, doomed.select("doc_id"), idx, "take"
    ) is False
    # physical: no artifact row for any deleted doc
    for name, col in (("grams", "base_id"), ("sizes", "base_id"), ("hashes", "doc_id")):
        art = spark.read.parquet(os.path.join(idx, name, f"gen={gen}"))
        left = {r[col] for r in art.select(col).distinct().collect()}
        assert not left & {r["doc_id"] for r in doomed.collect()}
    # folded artifacts == a fresh build over the survivors (no gram near
    # the df cap at this SF, so the subtraction is exact here)
    survivors = base.filter(F.col("doc_id") % 2 != 0).unionByName(inc)
    rebuilt = str(tmp_path / "rebuilt")
    incremental.build_base_index(survivors, rebuilt)
    got_df = {
        (r["g"], r["df"])
        for r in spark.read.parquet(os.path.join(idx, "gramdf", f"gen={gen}"))
        .select("g", "df").collect()
    }
    want_df = {
        (r["g"], r["df"])
        for r in spark.read.parquet(os.path.join(rebuilt, "gramdf", "gen=0"))
        .select("g", "df").collect()
    }
    assert got_df == want_df
    got = _cls(spark, docs, idx)
    want = _cls(spark, docs, rebuilt)
    assert got == want


def test_text_compact_concurrent_delete_fence(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "text")
    incremental.build_base_index(
        docs.filter(F.col("doc_id") % 3 == 0), idx
    )
    assert incremental.append_to_index(
        spark, docs.filter(F.col("doc_id") % 3 == 1), idx, "inc1"
    ) is True
    victim = docs.filter(F.col("doc_id") % 3 == 0).limit(1).select("doc_id")

    real_claim = incremental._claim_generation
    state = {"fired": False}

    def claim_with_delete(path):
        g = real_claim(path)
        if not state["fired"]:
            state["fired"] = True
            assert incremental.delete_from_index(spark, victim, idx, "mid") is True
        return g

    incremental._claim_generation = claim_with_delete
    try:
        with pytest.raises(RuntimeError, match="concurrent delete"):
            incremental.compact_index(spark, idx)
    finally:
        incremental._claim_generation = real_claim
    # the delete survived; a compaction re-run applies it
    assert incremental._load_manifest(idx)["tombstones"]
    incremental.compact_index(spark, idx)
    assert not incremental._load_manifest(idx).get("tombstones", [])
