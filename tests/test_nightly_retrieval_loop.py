"""Retrieval-stack nightly maintenance through ``run_nightly`` in its
lex+ANN configuration: dual-ledger inbox pickup, lex-before-ann
ordering, the cross-increment dedup guard (round-11 advice),
crash-replay across a leg boundary AND the compact boundary,
appended-corpus probe parity, and the hybrid-consistency invariant
(ANN ⊆ doclist)."""

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
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE

TERMS = ["join", "filter", "vector"]


def _corpus(spark):
    """(doc_id, text, embedding) — documents joined to their vectors."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id")


def _write_epoch(df, inbox: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(inbox, name))


def _build_base(spark, tmp_path, corpus):
    base = corpus.filter(F.col("doc_id") % 3 == 0)
    lex = str(tmp_path / "lex")
    ann = str(tmp_path / "ann")
    lexindex.build_lexical_index(base, lex)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    return base, lex, ann


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _nightly(spark, inbox, lex, ann, **kw):
    return run_nightly(spark, inbox, lex_index_path=lex, ann_index_path=ann, **kw)


def test_loop_ingests_both_legs_and_probe_matches_scan(spark, tmp_path):
    corpus = _corpus(spark)
    base, lex, ann = _build_base(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    _write_epoch(corpus.filter(F.col("doc_id") % 3 == 1), inbox, "epoch=1")

    r1 = _nightly(spark, inbox, lex, ann)
    assert r1["appended_lex"] == ["epoch=1"]
    assert r1["appended_ann"] == ["epoch=1"]
    assert r1["new_docs"] > 0 and r1["duplicate_docs"] == 0
    assert r1["ann_docs_missing_from_lex"] == 0

    # replay: both ledgers are the checkpoint — nothing re-appends
    r2 = _nightly(spark, inbox, lex, ann)
    assert r2["appended_lex"] == [] and r2["appended_ann"] == []
    assert r2["skipped"] == ["epoch=1"]

    # appended-corpus probe parity: the maintained index serves the
    # merged corpus exactly as a scan over it would score
    merged = corpus.filter(F.col("doc_id") % 3 != 2).select("doc_id", "text")
    got = _rows(lexindex.bm25_topk_from_index(spark, lex, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(merged, TERMS, k=10))
    assert got == want and got

    # the served hybrid probe runs green over the maintained pair
    q = corpus.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    fused = lexindex.hybrid_topk_rrf_from_index(
        spark, lex, ann, TERMS, q, k=5
    ).collect()
    assert len(fused) == 5


def test_loop_dedup_guard_drops_cross_increment_replays(spark, tmp_path):
    """A doc_id arriving inside two DIFFERENT increments (at-least-once
    inbox) must index exactly once — tf/df/n_docs double-counting is the
    silent BM25 skew the round-11 advice flagged."""
    corpus = _corpus(spark)
    base, lex, ann = _build_base(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    ones = corpus.filter(F.col("doc_id") % 3 == 1)
    twos = corpus.filter(F.col("doc_id") % 3 == 2)
    _write_epoch(ones, inbox, "epoch=1")
    _nightly(spark, inbox, lex, ann)

    # epoch=2 retransmits every epoch=1 doc alongside the new ones
    _write_epoch(ones.unionByName(twos), inbox, "epoch=2")
    r = _nightly(spark, inbox, lex, ann)
    assert r["appended_lex"] == ["epoch=2"]
    assert r["duplicate_docs"] == ones.count()
    assert r["ann_docs_missing_from_lex"] == 0

    # the maintained index == a scan over the full (deduped) corpus
    got = _rows(lexindex.bm25_topk_from_index(spark, lex, TERMS, k=10))
    want = _rows(
        retrieval.bm25_topk(corpus.select("doc_id", "text"), TERMS, k=10)
    )
    assert got == want and got
    # and n_docs counted each doc once
    man = incremental._load_manifest(lex)
    assert sum(g["n_docs"] for g in man["generations"]) == corpus.count()


def test_loop_crash_between_legs_replays_the_ann_leg(spark, tmp_path, monkeypatch):
    """Crash AFTER the lex commit, BEFORE the ann commit: the replay must
    not starve the ANN leg (the guard excludes the increment's own lex
    generation) and the consistency invariant holds at both points."""
    corpus = _corpus(spark)
    base, lex, ann = _build_base(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    _write_epoch(corpus.filter(F.col("doc_id") % 3 == 1), inbox, "epoch=1")

    real_append = annindex.append_ann_index

    def crash(*a, **k):
        raise RuntimeError("simulated crash before ann append")

    import gcp_serverless_etl_pipeline_lab_spark.operators.annindex as _ann_mod

    monkeypatch.setattr(_ann_mod, "append_ann_index", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _nightly(spark, inbox, lex, ann)
    monkeypatch.setattr(_ann_mod, "append_ann_index", real_append)

    # lex committed, ann didn't — invariant (ANN ⊆ doclist) still holds
    lex_man = incremental._load_manifest(lex)
    assert "epoch=1" in {g.get("increment_id") for g in lex_man["generations"]}
    ann_man = incremental._load_manifest(ann)
    assert "epoch=1" not in {
        g.get("increment_id") for g in ann_man["generations"]
    }

    # replay fills exactly the missing leg with the SAME resolved rows
    r = _nightly(spark, inbox, lex, ann)
    assert r["appended_lex"] == [] and r["appended_ann"] == ["epoch=1"]
    assert r["ann_docs_missing_from_lex"] == 0

    # the replayed ANN leg holds the full increment (not starved empty)
    ann_ids = {
        row["vec_id"]
        for row in annindex._read_vectors(
            spark, ann, incremental._load_manifest(ann)
        ).select("vec_id").collect()
    }
    want_ids = {
        row["doc_id"]
        for row in corpus.filter(F.col("doc_id") % 3 != 2)
        .select("doc_id").collect()
    }
    assert ann_ids == want_ids


def test_loop_compacts_on_policy_and_replays_across_fold(spark, tmp_path):
    corpus = _corpus(spark)
    base, lex, ann = _build_base(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    _write_epoch(corpus.filter(F.col("doc_id") % 3 == 1), inbox, "epoch=1")
    _write_epoch(corpus.filter(F.col("doc_id") % 3 == 2), inbox, "epoch=2")
    r = _nightly(
        spark, inbox, lex, ann, compact_every=3, vacuum_min_age_seconds=0.0
    )
    assert set(r["appended_lex"]) == {"epoch=1", "epoch=2"}
    assert r["compacted"]["lex"] is not None and r["compacted"]["ann"] is not None
    assert r["ann_docs_missing_from_lex"] == 0
    for p, man in (
        (lex, incremental._load_manifest(lex)),
        (ann, incremental._load_manifest(ann)),
    ):
        assert len(man["generations"]) == 1
        assert set(man["compacted_increments"]) == {"epoch=1", "epoch=2"}

    # replay ACROSS the fold: absorbed increments stay skipped
    r2 = _nightly(spark, inbox, lex, ann)
    assert r2["appended_lex"] == [] and r2["appended_ann"] == []
    assert set(r2["skipped"]) == {"epoch=1", "epoch=2"}

    # folded index still scores exactly as the full-corpus scan
    got = _rows(lexindex.bm25_topk_from_index(spark, lex, TERMS, k=10))
    want = _rows(
        retrieval.bm25_topk(corpus.select("doc_id", "text"), TERMS, k=10)
    )
    assert got == want and got


def test_consistency_check_raises_on_orphan_ann_docs(spark, tmp_path):
    """A vector generation whose docs never reached the postings is the
    silent-RRF-skew case — the full-scope audit must be loud about it."""
    corpus = _corpus(spark)
    base, lex, ann = _build_base(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    # sneak vectors into the ANN index behind the loop's back
    rogue = corpus.filter(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    assert annindex.append_ann_index(spark, rogue, ann, "rogue") is True
    os.makedirs(inbox, exist_ok=True)
    with pytest.raises(RuntimeError, match="hybrid consistency violated"):
        _nightly(
            spark, inbox, lex, ann, consistency_scope="full"
        )
    # default scope ("new") only audits what THIS call appended
    r = _nightly(spark, inbox, lex, ann)
    assert r["ann_docs_missing_from_lex"] == 0


def test_telemetry_observes_decay_and_rebuild_restores(spark, tmp_path):
    """Serve-time telemetry (round-13): the nightly loop OBSERVES the
    recall the serving path delivers. Construction: the model is trained
    on eight tight axis-aligned clusters (centroids ~ e_0..e_7, so a
    stale cell assignment is just argmax over dims 0-7), then the loop
    ingests six clusters separated ONLY in higher dims with per-member
    noise on dims 0-7 — under the stale model each member's cell is an
    argmax over iid noise, i.e. uniform across the 8 cells, so a query's
    true top-k (its own cluster) straddles unprobed cells and OBSERVED
    overlap collapses — invisible to any user until measured. The loop's
    telemetry row must flag it the same night (rebuild_recommended via
    served_overlap_low); a rebuild (fresh k-means on what the index NOW
    holds — the deterministic first-point-per-id-class init lands one
    seed inside each new cluster by vec_id construction) must restore
    observed recall on the next loop run. The decay signal is
    BASELINE-RELATIVE (the model's own fresh first reading), because
    absolute overlap conflates data difficulty with index health —
    night 0's empty-inbox loop run records the fresh baseline exactly
    as a day-one deployment would."""
    import random

    rng = random.Random(42)
    dim = 64

    rows = []
    for i in range(120):  # 8 tight clusters on e_0..e_7 (15 members each)
        c = i % 8
        v = [0.05 * rng.gauss(0, 1) for _ in range(dim)]
        v[c] += 1.0
        rows.append((900_000 + i, v))
    inc_rows = []
    for j in range(360):  # 6 clusters split only in dims 10..15 (60 each)
        cl = j % 6
        v = [0.15 * rng.gauss(0, 1) if d < 8 else 0.0 for d in range(8)]
        v += [0.0] * (dim - 8)
        for d in range(8):
            v[d] += 0.106  # ~0.3/sqrt(8) shared diagonal component
        v[10 + cl] = 1.0 + 0.05 * rng.gauss(0, 1)
        # vec_id residue (mod 8) = cl+1, so the rebuild's init picks one
        # member of each new cluster as a seed centroid
        inc_rows.append((1000 * (cl + 1) + 8 * (j // 6) + (cl + 1), v))
    base = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    inc = spark.createDataFrame(
        inc_rows, "vec_id bigint, embedding array<double>"
    )
    words = ["alpha", "beta", "gamma", "delta"]
    as_docs = lambda df: df.select(  # noqa: E731
        F.col("vec_id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.element_at(F.array(*[F.lit(w) for w in words]),
                         (F.col("vec_id") % 4 + 1).cast("int")),
            F.lit("common"),
        ).alias("text"),
        "embedding",
    )
    lex, ann = str(tmp_path / "lex"), str(tmp_path / "ann")
    lexindex.build_lexical_index(as_docs(base).select("doc_id", "text"), lex)
    annindex.build_ann_index(base, ann, dim, cells=8, iters=2, sample_rate=1.0)
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox, exist_ok=True)

    # night 0 (nothing arrived): the fresh model's baseline reading —
    # base clusters align with cells, so observed recall is high
    r0 = _nightly(
        spark, inbox, lex, ann, telemetry_queries=8
    )
    assert r0["served_overlap"] is not None and r0["served_overlap"] >= 0.9, r0
    assert r0["rebuild_recommended"] is False

    # night 1: the scattering clusters arrive; observed recall collapses
    _write_epoch(as_docs(inc), inbox, "epoch=1")
    r1 = _nightly(
        spark, inbox, lex, ann, telemetry_queries=8
    )
    assert r1["appended_ann"] == ["epoch=1"]
    assert r1["served_overlap"] is not None
    assert r1["served_overlap"] < 0.8 * r0["served_overlap"], (r0, r1)
    assert r1["rebuild_recommended"] is True
    rep = annindex.ann_drift_report(ann)
    assert rep["served_overlap_low"] is True
    assert rep["served_overlap_baseline"] == r0["served_overlap"]
    tel = incremental._load_manifest(ann)["telemetry"]
    assert tel and tel[-1]["served_overlap"] == r1["served_overlap"]

    # the recommended retrain, then the next night's loop re-measures —
    # the new epoch's first reading is its own fresh baseline, and the
    # decayed pre-rebuild reading (stale epoch) no longer counts
    annindex.rebuild_ann_index(spark, ann, sample_rate=1.0)
    r2 = _nightly(
        spark, inbox, lex, ann, telemetry_queries=8
    )
    assert r2["skipped"] == ["epoch=1"]
    assert r2["served_overlap"] is not None
    assert r2["served_overlap"] >= 0.9, r2
    assert r2["rebuild_recommended"] is False
    rep2 = annindex.ann_drift_report(ann)
    assert rep2["served_overlap"] == r2["served_overlap"]
    assert rep2["served_overlap_baseline"] == r2["served_overlap"]
    assert rep2["served_overlap_low"] is False


def test_append_assert_new_doc_ids_guards_the_contract(spark, tmp_path):
    docs = _corpus(spark).select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    overlap = docs.filter(F.col("doc_id") % 4 == 0)
    with pytest.raises(ValueError, match="already\\s+indexed"):
        lexindex.append_lexical_index(
            spark, overlap, idx, "ov", assert_new_doc_ids=True
        )
    fresh = docs.filter(F.col("doc_id") % 2 == 1)
    assert lexindex.append_lexical_index(
        spark, fresh, idx, "odd", assert_new_doc_ids=True
    ) is True


def test_indexed_doc_ids_membership_and_legacy_upgrade(spark, tmp_path):
    import shutil

    docs = _corpus(spark).select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(half, idx)
    asked = docs.select("doc_id")
    got = {
        r["doc_id"]
        for r in lexindex.indexed_doc_ids(spark, idx, asked).collect()
    }
    want = {r["doc_id"] for r in half.select("doc_id").collect()}
    assert got == want

    # pre-round-12 index shape (no doclist artifact): round 13 upgrades
    # it in place on first probe instead of degrading to an unpruned
    # postings scan — answers match and the artifact now exists
    shutil.rmtree(os.path.join(idx, "doclist"))
    got2 = {
        r["doc_id"]
        for r in lexindex.indexed_doc_ids(spark, idx, asked).collect()
    }
    assert got2 == want
    assert os.path.isdir(os.path.join(idx, "doclist", "gen=0"))
