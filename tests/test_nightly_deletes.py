"""Deletes as a nightly pipeline stage (round-14 verdict task 1):
``run_nightly(deletes_dir=...)`` ingests (doc_id) delete increments and
applies them ANN → lexical → text → merged corpus, replay-idempotent
via the per-index tombstone ledgers. The crash matrix kills between
every adjacent pair of per-delete legs and proves (a) the serving
invariant ANN ⊆ lex holds at every crash point and (b) the replay
completes to the exact no-crash outcome. Plus the tombstone-pressure
fold trigger (task 3): a delete-heavy, append-quiet night still folds."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
    retrieval,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming import nightly as nightly_mod
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE

TERMS = ["join", "filter", "vector"]


def _corpus(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id")


def _build_bases(spark, tmp_path, corpus):
    base = corpus.filter(F.col("doc_id") % 3 == 0)
    lex, ann, text = (
        str(tmp_path / "lex"), str(tmp_path / "ann"), str(tmp_path / "text")
    )
    lexindex.build_lexical_index(base, lex)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    incremental.build_base_index(base.select("doc_id", "text"), text)
    return base, lex, ann, text


def _write_delete(spark, deletes_dir, name, ids):
    spark.createDataFrame([(i,) for i in ids], "doc_id bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(deletes_dir, name))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _setup_with_append(spark, tmp_path):
    corpus = _corpus(spark)
    base, lex, ann, text = _build_bases(spark, tmp_path, corpus)
    inbox, merged, deletes = (
        str(tmp_path / "inbox"), str(tmp_path / "merged"),
        str(tmp_path / "deletes"),
    )
    inc = corpus.filter(F.col("doc_id") % 3 == 1)
    inc.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(inbox, "epoch=1")
    )
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged,
    )
    assert r["appended_lex"] == ["epoch=1"]
    indexed = corpus.filter(F.col("doc_id") % 3 != 2)
    # victims span BOTH the base build and tonight's append
    vids = sorted(
        row["doc_id"]
        for row in indexed.select("doc_id").limit(4).collect()
    )
    _write_delete(spark, deletes, "take=1", vids)
    return corpus, indexed, vids, lex, ann, text, inbox, merged, deletes


def _merged_docs(spark, merged):
    """(doc_id, text) union of the merged-corpus children, or None."""
    out = None
    for name in nightly_mod._merged_children(merged):
        part = spark.read.parquet(os.path.join(merged, name)).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        out = part if out is None else out.unionByName(part)
    return out


def _assert_forgotten(spark, corpus, indexed, vids, lex, ann, text, merged):
    survivors = indexed.filter(~F.col("doc_id").isin(vids))
    # lexical probe == scan over corpus-minus-deleted
    got = _rows(lexindex.bm25_topk_from_index(spark, lex, TERMS, k=10))
    want = _rows(
        retrieval.bm25_topk(survivors.select("doc_id", "text"), TERMS, k=10)
    )
    assert got == want and got
    ids = spark.createDataFrame([(v,) for v in vids], "doc_id bigint")
    assert lexindex.indexed_doc_ids(spark, lex, ids).count() == 0
    assert annindex.indexed_vec_ids(
        spark, ann, ids.select(F.col("doc_id").alias("vec_id"))
    ).count() == 0
    # the text index no longer recognizes the victims' content
    victims = corpus.filter(F.col("doc_id").isin(vids)).select("doc_id", "text")
    assert incremental.exact_dups_vs_index(spark, victims, text).count() == 0
    # the corpus copy is scrubbed: no victim id, no victim text
    mdocs = _merged_docs(spark, merged)
    if mdocs is not None:
        assert mdocs.filter(F.col("doc_id").isin(vids)).count() == 0
        vtexts = {r["text"] for r in victims.collect()}
        left = mdocs.filter(F.col("text").isin(list(vtexts)))
        # identical-twin text from a NON-deleted doc may legitimately
        # remain; every remaining copy must belong to a survivor id
        assert left.filter(F.col("doc_id").isin(vids)).count() == 0


def test_nightly_delete_end_to_end_and_replay(spark, tmp_path):
    corpus, indexed, vids, lex, ann, text, inbox, merged, deletes = (
        _setup_with_append(spark, tmp_path)
    )
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, deletes_dir=deletes,
        consistency_scope="full",
    )
    assert r["applied_deletes"] == ["take=1"]
    assert r["purged_merged_docs"] >= 1
    assert r["ann_docs_missing_from_lex"] == 0
    _assert_forgotten(spark, corpus, indexed, vids, lex, ann, text, merged)
    # replay: the deletes ledger and the index ledgers both hold
    r2 = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, deletes_dir=deletes,
    )
    assert r2["applied_deletes"] == []
    assert r2["skipped_deletes"] == ["take=1"]
    assert r2["purged_merged_docs"] == 0
    # ...and a deleted doc can be legitimately RE-INGESTED later
    re_inc = corpus.filter(F.col("doc_id") == vids[0])
    re_inc.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(inbox, "epoch=2")
    )
    r3 = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, deletes_dir=deletes,
    )
    assert r3["appended_lex"] == ["epoch=2"] and r3["new_docs"] == 1
    ids0 = spark.createDataFrame([(vids[0],)], "doc_id bigint")
    assert lexindex.indexed_doc_ids(spark, lex, ids0).count() == 1


@pytest.mark.parametrize("crash_leg", ["lex", "text", "merged"])
def test_nightly_delete_crash_matrix(spark, tmp_path, monkeypatch, crash_leg):
    """Kill between adjacent per-delete legs: after the crash the
    serving invariant (ANN ⊆ lex) must hold and the ledger must NOT be
    written; the replay completes to the exact no-crash outcome."""
    corpus, indexed, vids, lex, ann, text, inbox, merged, deletes = (
        _setup_with_append(spark, tmp_path)
    )
    import gcp_serverless_etl_pipeline_lab_spark.operators.incremental as _inc
    import gcp_serverless_etl_pipeline_lab_spark.operators.lexindex as _lex

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    if crash_leg == "lex":
        monkeypatch.setattr(_lex, "delete_from_lexical_index", boom)
    elif crash_leg == "text":
        monkeypatch.setattr(_inc, "delete_from_index", boom)
    else:
        monkeypatch.setattr(nightly_mod, "_purge_merged", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_nightly(
            spark, inbox, lex_index_path=lex, ann_index_path=ann,
            text_index_path=text, merged_dir=merged, deletes_dir=deletes,
        )
    monkeypatch.undo()
    # ledger not written — the increment is still pending
    assert not os.path.exists(os.path.join(deletes, "_applied.json"))
    ids = spark.createDataFrame([(v,) for v in vids], "doc_id bigint")
    # ANN leg always landed first; at every crash point the invariant
    # ANN ⊆ lex holds (a doc never ranks in ANN without lex membership)
    assert annindex.indexed_vec_ids(
        spark, ann, ids.select(F.col("doc_id").alias("vec_id"))
    ).count() == 0
    if crash_leg in ("text", "merged"):
        assert lexindex.indexed_doc_ids(spark, lex, ids).count() == 0
    # the full-scope consistency check tolerates the half-applied
    # takedown (round-14 advice fix) — no false violation on replay
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, deletes_dir=deletes,
        consistency_scope="full",
    )
    assert r["applied_deletes"] == ["take=1"]
    assert r["ann_docs_missing_from_lex"] == 0
    _assert_forgotten(spark, corpus, indexed, vids, lex, ann, text, merged)


def test_tombstone_pressure_triggers_fold(spark, tmp_path):
    """A delete-heavy, append-quiet index must still fold: without the
    pressure trigger its mask union grows with every takedown forever
    (generation count never reaches compact_every)."""
    corpus, indexed, vids, lex, ann, text, inbox, merged, deletes = (
        _setup_with_append(spark, tmp_path)
    )
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, deletes_dir=deletes,
        compact_every=100, compact_tombstones_over=1,
    )
    assert r["applied_deletes"] == ["take=1"]
    # every index folded on tombstone pressure, not generation count
    assert r["compacted"]["lex"] is not None
    assert r["compacted"]["ann"] is not None
    assert r["compacted"]["text"] is not None
    assert not incremental._load_manifest(lex).get("tombstones", [])
    assert not incremental._load_manifest(ann).get("tombstones", [])
    assert not incremental._load_manifest(text).get("tombstones", [])
    # probes unchanged through the physical application
    _assert_forgotten(spark, corpus, indexed, vids, lex, ann, text, merged)


def test_delete_of_unindexed_ids_is_recorded_once_and_writes_nothing(
    spark, tmp_path
):
    """A delete increment naming only ids the index never held commits no
    tombstone, is still recorded as applied, and a replay skips it."""
    text, inbox, deletes = (
        str(tmp_path / "text"), str(tmp_path / "inbox"),
        str(tmp_path / "deletes"),
    )
    os.makedirs(inbox)
    incremental.build_base_index(
        spark.createDataFrame(
            [(1, "a b c d"), (2, "e f g h")], "doc_id bigint, text string"
        ),
        text,
    )
    _write_delete(spark, deletes, "take=1", [77, 78])
    r = run_nightly(spark, inbox, text_index_path=text, deletes_dir=deletes)
    assert r["applied_deletes"] == ["take=1"]
    assert not incremental._load_manifest(text).get("tombstones", [])
    r = run_nightly(spark, inbox, text_index_path=text, deletes_dir=deletes)
    assert r["applied_deletes"] == [] and r["skipped_deletes"] == ["take=1"]
