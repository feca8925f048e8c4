"""Round-14 advice regressions.

1. HIGH — full-scope hybrid consistency check must mask ANN tombstones:
   after a documented takedown (delete ANN first, then lex) every
   ``consistency_scope="full"`` run raised a FALSE "hybrid consistency
   violated" until ANN compaction retired the tombstone
   (streaming/nightly.py).
2. MEDIUM — delete_from_{lexical,ann}_index concurrent-append fence:
   an append landing between membership resolution and the tombstone's
   manifest commit was covered by the tombstone's commit-time max_gen
   without ever being membership-checked (silent masking + permanent
   live-stat overcount). Delete now aborts loudly, like compact/rebuild.
3. LOW — ANN-only run_nightly always reported new_docs=0.
4. LOW — ann_drift_report mixed telemetry readings taken at different
   (n_queries, k, nprobe) into one epoch baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE

import os


def _corpus(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id")


def _build_pair(spark, tmp_path, corpus):
    lex, ann = str(tmp_path / "lex"), str(tmp_path / "ann")
    lexindex.build_lexical_index(corpus, lex)
    annindex.build_ann_index(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    return lex, ann


def _ids(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


def _takedown(spark, lex, ann, victim_ids):
    """The documented order: ANN first, then lex — the serving invariant
    (ANN ⊆ lex) holds at every point in between."""
    assert annindex.delete_from_ann_index(spark, victim_ids, ann, "take") is True
    assert lexindex.delete_from_lexical_index(spark, victim_ids, lex, "take") is True


def test_full_scope_consistency_survives_takedown_unified(spark, tmp_path):
    corpus = _corpus(spark)
    lex, ann = _build_pair(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    victims = [r["doc_id"] for r in corpus.select("doc_id").limit(2).collect()]
    _takedown(spark, lex, ann, _ids(spark, victims))
    # before the fix: the raw veclist still lists the ANN-tombstoned
    # vec_id while lexical membership (correctly) denies it → a false
    # RuntimeError on every full-scope night until ANN compaction
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        consistency_scope="full",
    )
    assert r["ann_docs_missing_from_lex"] == 0
    # a REAL violation still raises: delete lex-only (wrong order on
    # purpose) leaves a served ANN vector with no lexical membership
    other = [
        r_["doc_id"]
        for r_ in corpus.select("doc_id").orderBy(F.col("doc_id").desc())
        .limit(1).collect()
    ]
    assert lexindex.delete_from_lexical_index(
        spark, _ids(spark, other), lex, "wrongorder"
    ) is True
    with pytest.raises(RuntimeError, match="hybrid consistency violated"):
        run_nightly(
            spark, inbox, lex_index_path=lex, ann_index_path=ann,
            consistency_scope="full",
        )


def test_lex_delete_concurrent_append_fence(spark, tmp_path):
    corpus = _corpus(spark).select("doc_id", "text")
    lex = str(tmp_path / "lex")
    lexindex.build_lexical_index(corpus, lex)
    victim = [r["doc_id"] for r in corpus.select("doc_id").limit(1).collect()]
    extra = spark.createDataFrame(
        [(987_000_001, "join filter vector")], "doc_id bigint, text string"
    )

    real_claim = lexindex._claim_generation
    state = {"fired": False}

    def claim_with_append(path):
        # the delete's claim call happens AFTER membership resolution
        # and BEFORE the locked commit — land an append in that window
        if not state["fired"]:
            state["fired"] = True
            assert lexindex.append_lexical_index(
                spark, extra, lex, "sneak"
            ) is True
        return real_claim(path)

    lexindex._claim_generation = claim_with_append
    try:
        with pytest.raises(RuntimeError, match="concurrent append"):
            lexindex.delete_from_lexical_index(
                spark, _ids(spark, victim), lex, "take"
            )
    finally:
        lexindex._claim_generation = real_claim
    man = incremental._load_manifest(lex)
    # no tombstone committed; stats untouched (append counted, no subtraction)
    assert not man.get("tombstones", [])
    # the retry succeeds against the settled manifest
    assert lexindex.delete_from_lexical_index(
        spark, _ids(spark, victim), lex, "take"
    ) is True
    n, s = lexindex._live_stats(incremental._load_manifest(lex))
    want = corpus.filter(~F.col("doc_id").isin(victim)).unionByName(extra)
    row = want.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " ", -1))).alias("s"),
    ).collect()[0]
    assert (n, s) == (int(row["n"]), int(row["s"]))


def test_ann_delete_concurrent_append_fence(spark, tmp_path):
    corpus = _corpus(spark)
    ann = str(tmp_path / "ann")
    vecs = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    annindex.build_ann_index(vecs, ann, 64, cells=8, iters=2, sample_rate=1.0)
    victim = [r["vec_id"] for r in vecs.select("vec_id").limit(1).collect()]
    extra = vecs.orderBy(F.col("vec_id").desc()).limit(1).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )

    real_claim = incremental._claim_generation
    state = {"fired": False}

    def claim_with_append(path):
        if not state["fired"]:
            state["fired"] = True
            assert annindex.append_ann_index(spark, extra, ann, "sneak") is True
        return real_claim(path)

    incremental._claim_generation = claim_with_append
    try:
        with pytest.raises(RuntimeError, match="concurrent append"):
            annindex.delete_from_ann_index(
                spark, _ids(spark, victim), ann, "take"
            )
    finally:
        incremental._claim_generation = real_claim
    assert not incremental._load_manifest(ann).get("tombstones", [])
    assert annindex.delete_from_ann_index(
        spark, _ids(spark, victim), ann, "take"
    ) is True


def test_ann_only_nightly_counts_new_docs(spark, tmp_path):
    corpus = _corpus(spark)
    ann = str(tmp_path / "ann")
    base = corpus.filter(F.col("doc_id") % 3 == 0)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    inbox = str(tmp_path / "inbox")
    inc = corpus.filter(F.col("doc_id") % 3 == 1)
    inc.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(inbox, "epoch=1")
    )
    r = run_nightly(spark, inbox, ann_index_path=ann)
    assert r["appended_ann"] == ["epoch=1"]
    assert r["new_docs"] == inc.select("doc_id").distinct().count()


def test_hybrid_batch_conjunctive_matches_single(spark, tmp_path):
    """round-14 verdict task 6: match_all_terms threads through BOTH
    hybrid serving spellings; the batch path's per-query conjunctive
    gate must agree with the single-query path exactly."""
    corpus = _corpus(spark)
    lex, ann = _build_pair(spark, tmp_path, corpus)
    queries = {3: ["join", "filter"], 11: ["vector", "join", "the"]}
    qt = spark.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "query_id bigint, term string",
    )
    qv = corpus.filter(F.col("doc_id").isin(list(queries))).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    batch = lexindex.hybrid_topk_rrf_batch(
        spark, lex, ann, qt, qv, k=5, depth=20, nprobe=3,
        match_all_terms=True,
    ).collect()
    for qid, terms in queries.items():
        single = lexindex.hybrid_topk_rrf_from_index(
            spark, lex, ann, terms,
            qv.filter(F.col("vec_id") == qid),
            k=5, depth=20, nprobe=3, match_all_terms=True,
        ).collect()
        got = [
            (r["doc_id"], r["bm25_rank"], r["ann_rank"], r["rrf_score"])
            for r in sorted(
                (b for b in batch if b["query_id"] == qid),
                key=lambda r: (-r["rrf_score"], r["doc_id"]),
            )
        ]
        want = [
            (r["doc_id"], r["bm25_rank"], r["ann_rank"], r["rrf_score"])
            for r in single
        ]
        assert got == want and got
        # the conjunctive gate bit: every ranked lexical doc matched ALL
        # the query's distinct terms (spot-check against the corpus)
        docs = {r[0] for r in got if r[1] is not None}
        txt = {
            row["doc_id"]: set(row["text"].split(" "))
            for row in corpus.filter(F.col("doc_id").isin(list(docs)))
            .select("doc_id", "text").collect()
        }
        assert all(set(terms) <= txt[d] for d in docs)


def test_cell_counts_recorded_through_lifecycle(spark, tmp_path):
    """round-14 task 8 leftover that SHIPPED: every vector generation
    records its per-cell occupancy (the selective-escalation experiment's
    instrument, kept as manifest-readable skew observability after the
    selection heuristic was measured non-predictive and rejected — see
    query_ann_index). Counts must track the written population through
    build / append / delete+compact / rebuild."""
    corpus = _corpus(spark)
    ann = str(tmp_path / "ann")
    vecs = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    base = vecs.filter(F.col("vec_id") % 3 == 0)
    inc = vecs.filter(F.col("vec_id") % 3 == 1)
    annindex.build_ann_index(base, ann, 64, cells=8, iters=2, sample_rate=1.0)
    man = incremental._load_manifest(ann)
    counts = annindex._total_cell_counts(man)
    assert counts is not None and sum(counts.values()) == base.count()
    assert annindex.append_ann_index(spark, inc, ann, "inc1") is True
    man = incremental._load_manifest(ann)
    assert sum(annindex._total_cell_counts(man).values()) == (
        base.count() + inc.count()
    )
    # delete + fold: the folded generation's counts are the survivors
    doomed = base.limit(3).select("vec_id")
    assert annindex.delete_from_ann_index(spark, doomed, ann, "take") is True
    annindex.compact_ann_index(spark, ann)
    man = incremental._load_manifest(ann)
    assert sum(annindex._total_cell_counts(man).values()) == (
        base.count() + inc.count() - 3
    )
    # rebuild: fresh counts over the live population
    annindex.rebuild_ann_index(spark, ann, sample_rate=1.0)
    man = incremental._load_manifest(ann)
    assert sum(annindex._total_cell_counts(man).values()) == (
        base.count() + inc.count() - 3
    )


def test_drift_baseline_ignores_param_mismatched_readings(spark, tmp_path):
    corpus = _corpus(spark)
    ann = str(tmp_path / "ann")
    annindex.build_ann_index(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    # epoch baseline at n_queries=4, then a LOWER reading at n_queries=8:
    # before the fix this compared across parameter regimes and could
    # falsely flip the decay flag
    annindex.record_serving_overlap(ann, 0.9, n_queries=4, k=10, nprobe=3)
    annindex.record_serving_overlap(ann, 0.5, n_queries=8, k=10, nprobe=3)
    rep = annindex.ann_drift_report(ann)
    assert rep["served_overlap"] == 0.5
    # the parameter change RESET the baseline — one comparable reading
    assert rep["served_overlap_baseline"] == 0.5
    assert rep["served_overlap_low"] is False
    assert rep["rebuild_recommended"] is False
    # real decay at the SAME parameters still flips
    annindex.record_serving_overlap(ann, 0.3, n_queries=8, k=10, nprobe=3)
    rep2 = annindex.ann_drift_report(ann)
    assert rep2["served_overlap_baseline"] == 0.5
    assert rep2["served_overlap_low"] is True
    assert rep2["rebuild_recommended"] is True
