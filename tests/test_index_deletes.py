"""Deletes for the served index family (round 13 — takedown /
right-to-be-forgotten): generation-scoped tombstones, probe-side masking
with exact N/avgdl/df arithmetic (probe-after-delete == probe of an
index rebuilt without the deleted docs), delete->re-append, physical
application + tombstone retirement at compaction, and vacuum of retired
tombstone artifacts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
    retrieval,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.incremental import (
    vacuum_index,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE

TERMS = ["join", "filter", "vector"]
EMB_DIM = 64


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _ids(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


def test_delete_probe_equals_rebuild_without(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    doomed = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    assert lexindex.delete_from_lexical_index(spark, doomed, idx, "take1") is True
    # replay is a committed no-op
    assert lexindex.delete_from_lexical_index(spark, doomed, idx, "take1") is False
    # probe == scan over the surviving corpus (N, avgdl, df all exact)
    survivors = docs.filter(F.col("doc_id") % 7 != 0)
    got = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(survivors, TERMS, k=10))
    assert got == want and got
    # membership excludes deleted docs
    hit = lexindex.indexed_doc_ids(spark, idx, docs.select("doc_id"))
    assert {r["doc_id"] for r in hit.collect()} == {
        r["doc_id"] for r in survivors.select("doc_id").collect()
    }
    # live stats match the survivor corpus exactly
    man = incremental._load_manifest(idx)
    n, s = lexindex._live_stats(man)
    srow = survivors.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " ", -1))).alias("s"),
    ).collect()[0]
    assert (n, s) == (int(srow["n"]), int(srow["s"]))


def test_delete_nonmember_is_noop(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    ghost = _ids(spark, [987_654_321, 987_654_322])
    assert lexindex.delete_from_lexical_index(spark, ghost, idx, "ghost") is False
    assert "tombstones" not in incremental._load_manifest(idx) or not (
        incremental._load_manifest(idx)["tombstones"]
    )


def test_delete_then_reappend_serves_the_new_rows(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    victim = docs.orderBy("doc_id").limit(1)
    vid = victim.collect()[0]["doc_id"]
    assert lexindex.delete_from_lexical_index(
        spark, victim.select("doc_id"), idx, "take"
    ) is True
    assert (
        lexindex.indexed_doc_ids(spark, idx, _ids(spark, [vid])).count() == 0
    )
    # re-append the SAME doc_id with new text — a higher generation,
    # above the tombstone's cover
    readd = spark.createDataFrame(
        [(vid, "join filter vector join join")], "doc_id bigint, text string"
    )
    assert lexindex.append_lexical_index(spark, readd, idx, "readd") is True
    assert (
        lexindex.indexed_doc_ids(spark, idx, _ids(spark, [vid])).count() == 1
    )
    # probe == scan over (survivors + re-added text)
    merged = docs.filter(F.col("doc_id") != vid).unionByName(readd)
    got = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(merged, TERMS, k=10))
    assert got == want and got
    # the re-added doc scores (it is stuffed with query terms)
    assert any(d == vid for d, _, _ in got)


def test_tokenless_doc_delete_keeps_avgdl_exact(spark, tmp_path):
    """The v3 doclist stores dl so deleting a TOKENLESS doc (no postings
    to read dl from) still subtracts its exact length — avgdl after the
    delete matches a rebuild-without to the last bit."""
    docs = _docs(spark)
    extra = spark.createDataFrame(
        [(8_000_001, ""), (8_000_002, "join filter")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs.unionByName(extra), idx)
    assert lexindex.delete_from_lexical_index(
        spark, _ids(spark, [8_000_001]), idx, "rm-tokenless"
    ) is True
    merged = docs.unionByName(extra.filter(F.col("doc_id") != 8_000_001))
    got = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(merged, TERMS, k=10))
    assert got == want and got


def test_full_fold_absorbs_tombstones_and_vacuum_sweeps(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), idx, "odd"
    )
    doomed = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    assert lexindex.delete_from_lexical_index(spark, doomed, idx, "take") is True
    tomb_gen = incremental._load_manifest(idx)["tombstones"][0]["gen"]
    before = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    gen = lexindex.compact_lexical_index(spark, idx)
    man = incremental._load_manifest(idx)
    # fully absorbed: no active tombstones, ledger id preserved
    assert man.get("tombstones", []) == []
    assert man["applied_deletes"] == ["take"]
    # replay across the fold stays a no-op
    assert lexindex.delete_from_lexical_index(spark, doomed, idx, "take") is False
    # fold stats = survivors exactly
    survivors = docs.filter(F.col("doc_id") % 5 != 0)
    (fold,) = man["generations"]
    assert fold["gen"] == gen and fold["n_docs"] == survivors.count()
    # probe parity before == after the fold, and == scan-of-survivors
    after = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    assert after == before
    assert after == _rows(retrieval.bm25_topk(survivors, TERMS, k=10))
    # the deleted docs are PHYSICALLY gone from the folded postings
    post = incremental._read_artifact(
        spark, idx, "postings", man, lexindex._POSTINGS_SCHEMA
    )
    assert post.filter(F.col("doc_id") % 5 == 0).count() == 0
    # the retired tombstone dir is unlisted debris — vacuum sweeps it
    swept = vacuum_index(idx, min_age_seconds=0.0)
    assert f"tombstones/gen={tomb_gen}" in swept


def test_partial_fold_keeps_covering_tombstone_active(spark, tmp_path):
    docs = _docs(spark)
    thirds = [docs.filter(F.col("doc_id") % 3 == r) for r in range(3)]
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(thirds[0], idx)
    # delete hits gen 0 only (third 0 docs); its cover is gen 0
    doomed = thirds[0].filter(F.col("doc_id") % 2 == 0).select("doc_id")
    assert lexindex.delete_from_lexical_index(spark, doomed, idx, "take") is True
    lexindex.append_lexical_index(spark, thirds[1], idx, "n1")
    lexindex.append_lexical_index(spark, thirds[2], idx, "n2")
    before = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    # fold only the two newest generations: gen 0 (the covered one) is
    # KEPT, so the tombstone must stay active and keep masking it
    lexindex.compact_lexical_index(spark, idx, max_generations_to_fold=2)
    man = incremental._load_manifest(idx)
    assert len(man["tombstones"]) == 1
    assert _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10)) == before
    # a later FULL fold absorbs it
    lexindex.compact_lexical_index(spark, idx)
    man2 = incremental._load_manifest(idx)
    assert man2.get("tombstones", []) == []
    survivors = docs.subtract(
        docs.join(doomed, "doc_id", "left_semi")
    )
    got = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    assert got == _rows(retrieval.bm25_topk(survivors, TERMS, k=10)) and got


# ------------------------------------------------------------- ANN deletes


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )


def _vids(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "vec_id bigint")


def test_ann_delete_query_equals_survivor_index_same_model(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(emb, idx, EMB_DIM, cells=8, iters=2, sample_rate=1.0)
    doomed = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    assert annindex.delete_from_ann_index(spark, doomed, idx, "take1") is True
    assert annindex.delete_from_ann_index(spark, doomed, idx, "take1") is False
    queries = emb.filter(F.col("vec_id").isin([3, 7]))
    got = _rows(annindex.query_ann_index(spark, queries, idx, k=5, nprobe=8))
    # reference: an index holding ONLY the survivors under the SAME model
    _, model = annindex.load_ann_model(idx)
    ref = str(tmp_path / "ref")
    annindex.build_ann_index(
        emb.filter(F.col("vec_id") % 5 != 0), ref, EMB_DIM, model=model
    )
    want = _rows(annindex.query_ann_index(spark, queries, ref, k=5, nprobe=8))
    assert got == want and got
    assert all(r[2] % 5 != 0 for r in got)  # neighbor_id column
    # membership excludes deleted vectors
    assert (
        annindex.indexed_vec_ids(spark, idx, doomed).count() == 0
    )
    # deleting non-members is a no-op
    assert annindex.delete_from_ann_index(
        spark, _vids(spark, [123_456_789]), idx, "ghost"
    ) is False


def test_ann_delete_then_reappend_and_compact_retires(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, EMB_DIM,
        cells=8, iters=2, sample_rate=1.0,
    )
    annindex.append_ann_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), idx, increment_id="odd"
    )
    victim = emb.orderBy("vec_id").limit(1)
    vid = victim.collect()[0]["vec_id"]
    assert annindex.delete_from_ann_index(
        spark, victim.select("vec_id"), idx, "take"
    ) is True
    assert annindex.indexed_vec_ids(spark, idx, _vids(spark, [vid])).count() == 0
    # re-append the same vec_id — higher generation, above the cover
    assert annindex.append_ann_index(
        spark, victim, idx, increment_id="readd"
    ) is True
    assert annindex.indexed_vec_ids(spark, idx, _vids(spark, [vid])).count() == 1
    before = _rows(
        annindex.query_ann_index(
            spark, emb.filter(F.col("vec_id") == 7), idx, k=5, nprobe=8
        )
    )
    # full fold applies the tombstone physically and retires it
    tomb_gen = incremental._load_manifest(idx)["tombstones"][0]["gen"]
    annindex.compact_ann_index(spark, idx)
    man = incremental._load_manifest(idx)
    assert man.get("tombstones", []) == []
    assert man["applied_deletes"] == ["take"]
    assert annindex.delete_from_ann_index(
        spark, victim.select("vec_id"), idx, "take"
    ) is False
    after = _rows(
        annindex.query_ann_index(
            spark, emb.filter(F.col("vec_id") == 7), idx, k=5, nprobe=8
        )
    )
    assert after == before and after
    # the re-added vector survived the fold; exactly one copy remains
    vecs = annindex._read_vectors(spark, idx, man)
    assert vecs.filter(F.col("vec_id") == vid).count() == 1
    swept = vacuum_index(idx, min_age_seconds=0.0)
    assert f"tombstones/gen={tomb_gen}" in swept


def test_ann_rebuild_drops_deleted_from_retrain(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(emb, idx, EMB_DIM, cells=4, iters=2, sample_rate=1.0)
    doomed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    assert annindex.delete_from_ann_index(spark, doomed, idx, "take") is True
    annindex.rebuild_ann_index(spark, idx, sample_rate=1.0)
    man = incremental._load_manifest(idx)
    assert man.get("tombstones", []) == []
    assert man["applied_deletes"] == ["take"]
    vecs = annindex._read_vectors(spark, idx, man)
    assert vecs.filter(F.col("vec_id") % 3 == 0).count() == 0
    assert vecs.count() == emb.filter(F.col("vec_id") % 3 != 0).count()
