"""Round-13 contracts: shared fold-slice tiering policy (+ the
protected-increment guard), sampled-model nprobe escalation for served
ANN probes, metadata-filtered retrieval inside both hybrid legs, and
the ANN membership artifact (veclist)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.incremental import (
    _split_fold_slice,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE

EMB_DIM = 64
TERMS = ["join", "filter", "vector"]


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------- fold slice


def test_split_fold_slice_policy():
    ents = [{"gen": i, "increment_id": f"i{i}"} for i in range(5)]
    # full fold: None or k >= len
    assert _split_fold_slice(ents, None) == (ents, [])
    assert _split_fold_slice(ents, 5) == (ents, [])
    assert _split_fold_slice(ents, 99) == (ents, [])
    # tiered: newest k fold, prefix kept in order
    fold, keep = _split_fold_slice(ents, 2)
    assert [g["gen"] for g in fold] == [3, 4]
    assert [g["gen"] for g in keep] == [0, 1, 2]
    with pytest.raises(ValueError):
        _split_fold_slice(ents, 1)


def test_split_fold_slice_protects_pending_increments():
    ents = [{"gen": i, "increment_id": f"i{i}"} for i in range(5)]
    fold, keep = _split_fold_slice(ents, 3, protect_increments={"i3"})
    assert [g["gen"] for g in fold] == [2, 4]
    # protected entry stays LISTED (appended after the kept prefix)
    assert [g["gen"] for g in keep] == [0, 1, 3]
    # protecting everything in the slice leaves nothing to fold
    fold2, keep2 = _split_fold_slice(ents, 2, protect_increments={"i3", "i4"})
    assert fold2 == [] and [g["gen"] for g in keep2] == [0, 1, 2, 3, 4]


def test_compact_lexical_protect_keeps_increment_listed(spark, tmp_path):
    """The one-legged-increment hazard (round-12 advice): a fold must
    not absorb an increment whose sibling ANN leg is still pending —
    protected entries stay listed under their own increment_id so the
    crash-replay's exclude_increment_id keeps matching."""
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    thirds = [docs.filter(F.col("doc_id") % 3 == r) for r in range(3)]
    lexindex.build_lexical_index(thirds[0], idx)
    lexindex.append_lexical_index(spark, thirds[1], idx, "night1")
    lexindex.append_lexical_index(spark, thirds[2], idx, "night2")
    before = _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10))
    gen = lexindex.compact_lexical_index(
        spark, idx, protect_increments={"night2"}
    )
    man = incremental._load_manifest(idx)
    ids = [g.get("increment_id") for g in man["generations"]]
    assert ids == ["night2", None], man["generations"]
    assert man["generations"][-1]["gen"] == gen
    assert man["compacted_increments"] == ["night1"]
    # probe parity through the protected partial fold
    assert _rows(lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10)) == before
    # the exclusion contract the protection exists for still works: the
    # protected increment's own docs are invisible to its replay's guard
    own = thirds[2].select(F.col("doc_id"))
    hit = lexindex.indexed_doc_ids(
        spark, idx, own, exclude_increment_id="night2"
    )
    assert hit.count() == 0
    # protecting every foldable generation is a loud no-op
    with pytest.raises(ValueError, match="nothing to fold"):
        lexindex.compact_lexical_index(
            spark, idx, protect_increments={"night2"}
        )


# ------------------------------------------------------- nprobe escalation


def test_effective_nprobe_escalates_only_low_coverage():
    man = {"model": [[i, []] for i in range(8)], "train_sample_rate": 0.1}
    assert annindex._effective_nprobe(man, 3, True) == 6
    assert annindex._effective_nprobe(man, 3, False) == 3
    # capped at the cell count
    assert annindex._effective_nprobe(man, 5, True) == 8
    # full coverage / unknown coverage: never escalated
    assert annindex._effective_nprobe(dict(man, train_sample_rate=1.0), 3, True) == 3
    assert annindex._effective_nprobe(dict(man, train_sample_rate=None), 3, True) == 3
    assert annindex._effective_nprobe({"model": man["model"]}, 3, True) == 3


def test_sampled_index_probe_equals_explicit_double_nprobe(spark, tmp_path):
    """A sample-trained index's served probe at nprobe=N must be
    row-identical to an explicit 2N probe with escalation off — the
    escalation is exactly a wider probe, nothing else."""
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb, idx, EMB_DIM, cells=8, iters=2, sample_rate=0.1
    )
    man = incremental._load_manifest(idx)
    assert man["train_sample_rate"] == 0.1
    rep = annindex.ann_drift_report(idx)
    assert rep["low_training_coverage"] is True
    assert rep["train_sample_rate"] == 0.1
    queries = emb.filter(F.col("vec_id") < 3)
    got = _rows(annindex.query_ann_index(spark, queries, idx, k=5, nprobe=3))
    want = _rows(
        annindex.query_ann_index(
            spark, queries, idx, k=5, nprobe=6, auto_escalate=False
        )
    )
    assert got == want and got


def test_full_coverage_index_not_escalated(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb, idx, EMB_DIM, cells=8, iters=2, sample_rate=1.0
    )
    rep = annindex.ann_drift_report(idx)
    assert rep["low_training_coverage"] is False
    queries = emb.filter(F.col("vec_id") < 3)
    got = _rows(annindex.query_ann_index(spark, queries, idx, k=5, nprobe=3))
    want = _rows(
        annindex.query_ann_index(
            spark, queries, idx, k=5, nprobe=3, auto_escalate=False
        )
    )
    assert got == want and got


def test_rebuild_retires_low_coverage_flag(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb, idx, EMB_DIM, cells=4, iters=2, sample_rate=0.1
    )
    assert annindex.ann_drift_report(idx)["low_training_coverage"] is True
    annindex.rebuild_ann_index(spark, idx, sample_rate=1.0)
    rep = annindex.ann_drift_report(idx)
    assert rep["low_training_coverage"] is False
    assert rep["train_sample_rate"] == 1.0


# ------------------------------------------------------- filtered retrieval


def test_filtered_bm25_fills_topk_from_allowed_set(spark, tmp_path):
    """Filter inside the leg: scores are unchanged (df/N stay index-
    level), the ranking is over allowed docs only, and the top-k fills
    to k — equivalent to ranking the unfiltered scores restricted to the
    allowed set, which a post-filter of an unfiltered top-k is not."""
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    got = _rows(
        lexindex.bm25_topk_from_index(
            spark, idx, TERMS, k=10, filter_ids=allowed
        )
    )
    # expected: unfiltered scores over the whole corpus, restricted to
    # the allowed set, top-10 by (score desc, doc_id)
    full = lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10_000_000)
    want = _rows(
        full.join(allowed, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )
    assert got == want and len(got) == 10
    assert all(d % 3 == 0 for d, _, _ in got)


def test_filtered_ann_probe_ranks_within_allowed(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb, idx, EMB_DIM, cells=8, iters=2, sample_rate=1.0
    )
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("doc_id")
    )
    queries = emb.filter(F.col("vec_id").isin([3, 7]))
    got = annindex.query_ann_index(
        spark, queries, idx, k=5, nprobe=8, filter_ids=allowed
    )
    rows = got.collect()
    assert {r["neighbor_id"] % 2 for r in rows} == {0}
    # every query's top-k is FILLED from the allowed population
    counts = {r["query_id"] for r in rows}
    assert counts == {3, 7}
    assert len(rows) == 10
    # parity with the unfiltered full probe (nprobe=all cells = exact)
    # restricted to the allowed half and re-ranked
    want = annindex.query_ann_index(spark, queries, idx, k=1_000_000, nprobe=8)
    want = (
        want.filter(F.col("neighbor_id") % 2 == 0)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("score").desc(), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rk") <= 5)
    )
    assert sorted(
        (r["query_id"], r["neighbor_id"]) for r in rows
    ) == sorted((r["query_id"], r["neighbor_id"]) for r in want.collect())


def test_filtered_hybrid_fills_k_and_respects_filter(spark, tmp_path):
    docs = _docs(spark)
    emb = _emb(spark)
    lex, ann = str(tmp_path / "lex"), str(tmp_path / "ann")
    lexindex.build_lexical_index(docs, lex)
    annindex.build_ann_index(
        emb, ann, EMB_DIM, cells=8, iters=2, sample_rate=1.0
    )
    allowed = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    q = emb.filter(F.col("vec_id") == 7)
    out = lexindex.hybrid_topk_rrf_from_index(
        spark, lex, ann, TERMS, q, k=10, depth=30, nprobe=8,
        filter_ids=allowed,
    ).collect()
    assert len(out) == 10
    assert all(r["doc_id"] % 2 == 1 for r in out)
    # both legs contributed from within the filter
    assert any(r["bm25_rank"] is not None for r in out)
    assert any(r["ann_rank"] is not None for r in out)


def test_conjunctive_bm25_probe_matches_scan_twin(spark, tmp_path):
    """match_all_terms narrows to docs matching EVERY query term before
    top-k; probe and scan spellings stay row-identical, and every
    returned doc matched all three terms."""
    from gcp_serverless_etl_pipeline_lab_spark.operators import retrieval

    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    got = _rows(
        lexindex.bm25_topk_from_index(
            spark, idx, TERMS, k=10, match_all_terms=True
        )
    )
    want = _rows(retrieval.bm25_topk(docs, TERMS, k=10, match_all_terms=True))
    assert got == want and got
    assert all(n == len(TERMS) for _, n, _ in got)
    # disjoint from OR semantics whenever an any-term doc outranked a
    # conjunctive one; scores for shared docs are identical
    or_rows = dict(
        (d, s)
        for d, _, s in _rows(
            lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10_000_000)
        )
    )
    assert all(or_rows[d] == s for d, _, s in got)


# ------------------------------------------------- ANN membership artifact


def test_indexed_vec_ids_membership(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, EMB_DIM,
        cells=4, iters=2, sample_rate=1.0,
    )
    annindex.append_ann_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), idx, increment_id="odd"
    )
    asked = emb.select("vec_id").unionByName(
        emb.select((F.col("vec_id") + 77_000_000).alias("vec_id"))
    )
    hit = annindex.indexed_vec_ids(spark, idx, asked)
    assert hit.count() == emb.count()
    assert hit.filter(F.col("vec_id") >= 77_000_000).count() == 0
    # crash-replay exclusion: the increment's own generation is skipped
    own = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id")
    assert (
        annindex.indexed_vec_ids(
            spark, idx, own, exclude_increment_id="odd"
        ).count()
        == 0
    )
    # compaction folds the veclist alongside the vectors
    annindex.compact_ann_index(spark, idx)
    assert annindex.indexed_vec_ids(spark, idx, asked).count() == emb.count()
    gen = incremental._load_manifest(idx)["generations"][-1]["gen"]
    assert os.path.isdir(os.path.join(idx, "veclist", f"gen={gen}"))
