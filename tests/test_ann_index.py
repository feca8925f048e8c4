"""Persisted IVF index (operators/annindex.py): build-once-query-many
parity with the per-invocation ivf_trained_topk, cell partition pruning,
and vacuum of orphaned text-index generations (operators/incremental.py
vacuum_index)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    similarity,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE


def _corpus_queries(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb, emb.filter(F.col("vec_id") < 10)


def test_stored_index_matches_per_invocation_ivf(spark, tmp_path):
    corpus, queries = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(corpus, idx, 64, cells=8, iters=2, sample_rate=1.0)
    got = sorted(
        map(
            tuple,
            annindex.query_ann_index(spark, queries, idx, k=5, nprobe=2).collect(),
        )
    )
    _, model = annindex.load_ann_model(idx)
    want = sorted(
        map(
            tuple,
            similarity.ivf_trained_topk(
                corpus, queries, 64, k=5, nprobe=2, model=model
            ).collect(),
        )
    )
    assert got == want and got


def test_query_scan_prunes_to_probed_cells(spark, tmp_path):
    """A single query probes nprobe cells; the stored-vector scan must
    carry a partition filter on exactly those cells."""
    corpus, queries = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(corpus, idx, 64, cells=8, iters=2, sample_rate=1.0)
    one = queries.orderBy("vec_id").limit(1)
    df = annindex.query_ann_index(spark, one, idx, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan
    assert df.count() == 5


def test_model_roundtrips_exactly(spark, tmp_path):
    corpus, _ = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    model = similarity.kmeans_centroids(corpus, 64, k=8, iters=2, sample_rate=1.0)
    annindex.build_ann_index(corpus, idx, 64, model=model)
    dim, loaded = annindex.load_ann_model(idx)
    assert dim == 64 and loaded == model


def test_vacuum_index_sweeps_only_stale_orphans(spark, tmp_path):
    from gcp_serverless_etl_pipeline_lab_spark.operators import incremental

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tidx")
    incremental.build_base_index(docs, idx, max_df=1000)
    # orphan: a crashed append's generation, never committed
    incremental._write_generation(
        idx,
        7,
        hashes=docs.limit(1).select(F.md5("text").alias("k")),
        grams=spark.createDataFrame([], incremental._GRAMS_SCHEMA),
        sizes=spark.createDataFrame([], incremental._SIZES_SCHEMA),
        gramdf=spark.createDataFrame([], incremental._GRAMDF_SCHEMA),
        capped=spark.createDataFrame([], incremental._CAPPED_SCHEMA),
    )
    # fresh orphan survives (could be an in-flight append)
    assert incremental.vacuum_index(idx, min_age_seconds=3600) == []
    # age it past the horizon -> swept, across every artifact
    for artifact in ("hashes", "grams", "sizes", "gramdf", "capped"):
        d = os.path.join(idx, artifact, "gen=7")
        for r, _, fs in os.walk(d):
            for f in fs:
                os.utime(os.path.join(r, f), (1, 1))
        os.utime(d, (1, 1))
    swept = incremental.vacuum_index(idx, min_age_seconds=3600)
    assert swept == sorted(
        f"{a}/gen=7" for a in ("hashes", "grams", "sizes", "gramdf", "capped")
    )
    # committed generation untouched; probes still work
    assert os.path.isdir(os.path.join(idx, "grams", "gen=0"))
    probe = docs.limit(5).select((F.col("doc_id") + 1).alias("doc_id"), "text")
    assert incremental.classify_batch_vs_index(spark, probe, idx).count() == 5


def test_ann_append_matches_rebuild_with_pinned_model(spark, tmp_path):
    corpus, queries = _corpus_queries(spark)
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    inc = corpus.filter(F.col("vec_id") % 2 == 1)
    appended = str(tmp_path / "app")
    annindex.build_ann_index(base, appended, 64, cells=8, iters=2, sample_rate=1.0)
    assert annindex.append_ann_index(spark, inc, appended, "odd") is True
    # rebuild over the FULL corpus with the SAME pinned model
    _, model = annindex.load_ann_model(appended)
    rebuilt = str(tmp_path / "reb")
    annindex.build_ann_index(corpus, rebuilt, 64, model=model)
    got = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, appended, 5, 2).collect())
    )
    want = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, rebuilt, 5, 2).collect())
    )
    assert got == want and got
    # idempotent replay; empty increment is a no-op
    assert annindex.append_ann_index(spark, inc, appended, "odd") is False
    assert (
        annindex.append_ann_index(
            spark, inc.filter(F.lit(False)), appended, "empty"
        )
        is False
    )


def test_ann_orphaned_generation_is_invisible(spark, tmp_path):
    corpus, queries = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(corpus, idx, 64, cells=8, iters=2, sample_rate=1.0)
    before = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    # crashed append: generation written, manifest never flipped
    _, model = annindex.load_ann_model(idx)
    ghost = corpus.select((F.col("vec_id") + 900_000).alias("vec_id"), "embedding")
    annindex._write_vectors_gen(ghost, idx, 1, model)
    after = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    assert after == before, "orphaned generation leaked into query results"


def test_compact_ann_index_folds_generations_preserves_queries(spark, tmp_path):
    """compact_ann_index: query-after-compact == query-before (pinned
    model, pure rewrite), old generation dirs stay for in-flight readers
    until vacuum, append idempotence survives via compacted_increments,
    and the probe plan over the compacted index unions ONE vector scan."""
    from gcp_serverless_etl_pipeline_lab_spark.operators import incremental

    corpus, queries = _corpus_queries(spark)
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    inc = corpus.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(base, idx, 64, cells=8, iters=2, sample_rate=1.0)
    assert annindex.append_ann_index(spark, inc, idx, "odd") is True
    before = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    model_before = annindex.load_ann_model(idx)

    gen = annindex.compact_ann_index(spark, idx)
    assert gen == 2
    after = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    assert after == before and after
    assert annindex.load_ann_model(idx) == model_before
    man = incremental._load_manifest(idx)
    (fold,) = man["generations"]
    assert fold["gen"] == 2 and fold["increment_id"] is None
    # round 11: the fold records the folded population's overall drift
    assert fold["drift_msd"] is not None
    assert man["compacted_increments"] == ["odd"]
    # old generation dirs remain (in-flight readers) until vacuum sweeps
    assert sorted(os.listdir(os.path.join(idx, "vectors"))) == [
        "gen=0", "gen=1", "gen=2",
    ]
    swept = incremental.vacuum_index(idx, min_age_seconds=0.0)
    assert swept == [
        # the membership artifact (round 13) is swept alongside the vectors
        "veclist/gen=0", "veclist/gen=1",
        "vectors/gen=0", "vectors/gen=1",
    ]
    assert sorted(os.listdir(os.path.join(idx, "vectors"))) == ["gen=2"]
    assert sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    ) == before
    # replayed append is still a committed no-op; fresh appends work
    assert annindex.append_ann_index(spark, inc, idx, "odd") is False
    fresh = inc.select((F.col("vec_id") + 800_000).alias("vec_id"), "embedding")
    assert annindex.append_ann_index(spark, fresh, idx, "fresh") is True


def test_ann_probe_plan_flat_in_generation_count(spark, tmp_path):
    """The number the compaction exists for: a probe unions one parquet
    scan per committed generation, so N nightly appends = N scans;
    compaction folds them back to ONE however large N grew."""
    corpus, queries = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        corpus.filter(F.col("vec_id") % 4 == 0), idx, 64,
        cells=8, iters=2, sample_rate=1.0,
    )
    for m in (1, 2, 3):
        annindex.append_ann_index(
            spark, corpus.filter(F.col("vec_id") % 4 == m), idx, f"inc-{m}"
        )

    def n_vector_scans(df):
        # each generation is its own FileScan; Spark truncates Location
        # strings (long tmp paths), so identify vector scans by the cell
        # partition filter only they carry
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(
            1
            for line in plan.splitlines()
            if "FileScan" in line
            and "cell#" in line.partition("PartitionFilters: [")[2]
        )

    q = queries.limit(2)
    assert n_vector_scans(annindex.query_ann_index(spark, q, idx, 5, 2)) == 4
    annindex.compact_ann_index(spark, idx)
    assert n_vector_scans(annindex.query_ann_index(spark, q, idx, 5, 2)) == 1


def test_compact_ann_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """An append that commits while the compactor folds would be silently
    dropped by the manifest flip — the locked commit must detect the
    changed generation set and abort (folded dirs become vacuum-able
    orphans); the re-run then folds everything including the late
    append."""
    import pytest as _pytest

    from gcp_serverless_etl_pipeline_lab_spark.operators import incremental

    corpus, queries = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        corpus.filter(F.col("vec_id") % 3 == 0), idx, 64,
        cells=8, iters=2, sample_rate=1.0,
    )
    annindex.append_ann_index(
        spark, corpus.filter(F.col("vec_id") % 3 == 1), idx, "inc-1"
    )

    # freeze the compactor's entry snapshot, then land a concurrent
    # append BEFORE its locked commit re-reads — the deterministic
    # spelling of the race window
    stale = incremental._load_manifest(idx)
    late = corpus.filter(F.col("vec_id") % 3 == 2)
    real_load = incremental._load_manifest
    calls = {"n": 0}

    def entry_sees_stale(path):
        calls["n"] += 1
        if calls["n"] == 1:
            annindex.append_ann_index(spark, late, idx, "late")
            return stale
        return real_load(path)

    monkeypatch.setattr(annindex, "_load_manifest", entry_sees_stale)
    with _pytest.raises(RuntimeError, match="re-run compact_ann_index"):
        annindex.compact_ann_index(spark, idx)
    monkeypatch.undo()

    # nothing lost: the late append is still committed; re-run folds all
    man = incremental._load_manifest(idx)
    assert {g.get("increment_id") for g in man["generations"]} == {
        None, "inc-1", "late",
    }
    gen = annindex.compact_ann_index(spark, idx)
    rebuilt = str(tmp_path / "reb")
    _, model = annindex.load_ann_model(idx)
    annindex.build_ann_index(corpus, rebuilt, 64, model=model)
    got = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    want = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, rebuilt, 5, 2).collect())
    )
    assert got == want and got
    # the aborted fold's orphan dir is vacuum's business
    live = {g["gen"] for g in incremental._load_manifest(idx)["generations"]}
    assert live == {gen}
    orphans = set(os.listdir(os.path.join(idx, "vectors"))) - {f"gen={gen}"}
    assert orphans, "aborted fold left no orphan (race not exercised)"
    swept = incremental.vacuum_index(idx, min_age_seconds=0.0)
    assert {f"vectors/gen={g}" for g in range(gen)} <= set(swept)


def test_ann_concurrent_distinct_appends_both_commit(spark, tmp_path):
    """Two threads append DISTINCT increments concurrently: generation
    claims keep their dirs distinct and the locked manifest commit drops
    neither (the text index's test_concurrent_appends_commit_both_
    generations, for vectors)."""
    import threading

    corpus, queries = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        corpus.filter(F.col("vec_id") % 3 == 0), idx, 64,
        cells=8, iters=2, sample_rate=1.0,
    )
    inc1 = corpus.filter(F.col("vec_id") % 3 == 1)
    inc2 = corpus.filter(F.col("vec_id") % 3 == 2)
    results = {}

    def _go(name, inc):
        results[name] = annindex.append_ann_index(spark, inc, idx, name)

    t1 = threading.Thread(target=_go, args=("inc-1", inc1))
    t2 = threading.Thread(target=_go, args=("inc-2", inc2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert results == {"inc-1": True, "inc-2": True}
    man = incremental._load_manifest(idx)
    gens = [g["gen"] for g in man["generations"]]
    assert len(set(gens)) == 3
    # parity with a single-writer rebuild under the same pinned model
    _, model = annindex.load_ann_model(idx)
    rebuilt = str(tmp_path / "reb")
    annindex.build_ann_index(corpus, rebuilt, 64, model=model)
    got = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    want = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, rebuilt, 5, 2).collect())
    )
    assert got == want


def test_drift_report_flags_shifted_increment_only(spark, tmp_path):
    """ann_drift_report: an increment drawn from the training distribution
    keeps ratio ~1 (no flag); one shifted far from every centroid trips
    rebuild_recommended at the documented threshold."""
    corpus, _ = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        corpus.filter(F.col("vec_id") % 2 == 0), idx, 64,
        cells=8, iters=2, sample_rate=1.0,
    )
    rep0 = annindex.ann_drift_report(idx)
    assert rep0["baseline_msd"] and rep0["rebuild_recommended"] is False

    # in-distribution: the held-out half of the same table
    in_dist = corpus.filter(F.col("vec_id") % 2 == 1)
    annindex.append_ann_index(spark, in_dist, idx, "in-dist")
    rep1 = annindex.ann_drift_report(idx)
    assert rep1["rebuild_recommended"] is False
    assert rep1["max_ratio"] is not None and rep1["max_ratio"] < annindex.DRIFT_REBUILD_RATIO

    # shifted: every component displaced — far from every pinned centroid
    shifted = in_dist.select(
        (F.col("vec_id") + 500_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(x + 5.0 AS FLOAT))"
        ).alias("embedding"),
    )
    annindex.append_ann_index(spark, shifted, idx, "shifted")
    rep2 = annindex.ann_drift_report(idx)
    assert rep2["rebuild_recommended"] is True
    by_id = {g["increment_id"]: g for g in rep2["generations"]}
    assert by_id["in-dist"]["ratio"] < annindex.DRIFT_REBUILD_RATIO
    assert by_id["shifted"]["ratio"] >= annindex.DRIFT_REBUILD_RATIO


def test_rebuild_ann_index_retrains_from_stored_vectors(spark, tmp_path):
    """rebuild_ann_index: retrain entirely FROM the index — fresh model,
    fresh baseline, one folded generation, idempotence ledger preserved —
    and the result queries identically to a from-scratch build over the
    same vectors with the same training config."""
    corpus, queries = _corpus_queries(spark)
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    inc = corpus.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(base, idx, 64, cells=8, iters=2, sample_rate=1.0)
    annindex.append_ann_index(spark, inc, idx, "odd")
    old_model = annindex.load_ann_model(idx)[1]

    annindex.rebuild_ann_index(spark, idx, iters=2, sample_rate=1.0)
    new_model = annindex.load_ann_model(idx)[1]
    assert new_model != old_model  # trained on base+inc, not base
    man = incremental._load_manifest(idx)
    assert len(man["generations"]) == 1
    assert man["compacted_increments"] == ["odd"]
    assert annindex.append_ann_index(spark, inc, idx, "odd") is False
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is False

    # re-assignment correctness: the retrained index queries identically
    # to a from-scratch build over the same corpus under the SAME (new)
    # model — float summation order makes retrain-from-index vs
    # train-from-table models differ in the last ulp, so the model is
    # pinned and what's verified is the rewrite/assignment path
    scratch = str(tmp_path / "scratch")
    annindex.build_ann_index(corpus, scratch, 64, model=new_model)
    got = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    want = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, scratch, 5, 2).collect())
    )
    assert got == want and got


def test_streamed_ann_search_matches_batch_and_is_incremental(spark, tmp_path):
    """streaming/ann_stream.run_ann_search: per-micro-batch top-k against
    the stored index == the batch query_ann_index on the same queries;
    checkpointed pickup ranks ONLY newly arrived files; idle re-run adds
    nothing."""
    from gcp_serverless_etl_pipeline_lab_spark.sinks import read_warehouse
    from gcp_serverless_etl_pipeline_lab_spark.streaming.ann_stream import (
        run_ann_search,
    )

    corpus, _ = _corpus_queries(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(corpus, idx, 64, cells=8, iters=2, sample_rate=1.0)

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _queries(lo, hi):
        return corpus.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(
            "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
        )

    q1 = _queries(0, 6)
    q1.coalesce(1).write.mode("append").parquet(inbox)
    run_ann_search(spark, inbox, idx, out, ckpt, k=5, nprobe=2)
    got1 = read_warehouse(spark, out)
    want1 = annindex.query_ann_index(spark, q1, idx, k=5, nprobe=2)
    assert sorted(map(tuple, got1.collect())) == sorted(map(tuple, want1.collect()))

    q2 = _queries(6, 12)
    q2.coalesce(1).write.mode("append").parquet(inbox)
    run_ann_search(spark, inbox, idx, out, ckpt, k=5, nprobe=2)
    got2 = read_warehouse(spark, out)
    want2 = annindex.query_ann_index(
        spark, q1.unionAll(q2), idx, k=5, nprobe=2
    )
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want2.collect()))

    run_ann_search(spark, inbox, idx, out, ckpt, k=5, nprobe=2)  # idle
    assert read_warehouse(spark, out).count() == got2.count()


def test_append_aborts_when_retrain_flips_model_epoch(spark, tmp_path, monkeypatch):
    """The OTHER half of the append/retrain race (ADVICE round 10): an
    append that reads the model, assigns its vectors, and acquires the
    commit lock AFTER rebuild_ann_index's manifest flip passes the
    generation-set and increment-id checks — but its vectors were
    assigned under the superseded centroids, so queries routing by the
    new model would silently miss them. The manifest's model_epoch must
    reject it; the retry re-assigns under the new model and the final
    index queries identically to a scratch build."""
    import pytest as _pytest

    from gcp_serverless_etl_pipeline_lab_spark.operators import incremental

    corpus, queries = _corpus_queries(spark)
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    inc = corpus.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(base, idx, 64, cells=8, iters=2, sample_rate=1.0)

    # deterministic race spelling: the retrain lands inside the append's
    # window between its model read and its locked commit — triggered
    # from the append's generation claim (which happens after the read)
    real_claim = incremental._claim_generation
    state = {"fired": False}

    def claim_then_retrain(path):
        if not state["fired"]:
            state["fired"] = True
            annindex.rebuild_ann_index(spark, idx, iters=2, sample_rate=1.0)
        return real_claim(path)

    monkeypatch.setattr(incremental, "_claim_generation", claim_then_retrain)
    with _pytest.raises(
        annindex.ModelEpochChangedError, match="model epoch changed"
    ):
        annindex.append_ann_index(spark, inc, idx, "odd")
    monkeypatch.undo()

    # nothing half-landed: the increment is NOT in the ledger, the
    # orphaned stale-assignment dir is invisible, and the retry commits
    # a re-assignment under the NEW model
    man = incremental._load_manifest(idx)
    assert "odd" not in {g.get("increment_id") for g in man["generations"]}
    assert annindex.append_ann_index(spark, inc, idx, "odd") is True
    _, new_model = annindex.load_ann_model(idx)
    scratch = str(tmp_path / "scratch")
    annindex.build_ann_index(corpus, scratch, 64, model=new_model)
    got = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    want = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, scratch, 5, 2).collect())
    )
    assert got == want and got


def test_drift_flag_survives_compaction(spark, tmp_path):
    """Round-11 verdict task 3: compaction must not erase the drift
    history. A small shifted increment trips rebuild_recommended; folding
    it into the (much larger, well-fitted) base would dilute a naive
    overall recompute below threshold — the folded generation's
    carried_max_drift_msd keeps the flag raised until a RETRAIN resets
    the baseline."""
    corpus, queries = _corpus_queries(spark)
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(base, idx, 64, cells=8, iters=2, sample_rate=1.0)

    # calibrate the shift to land the increment's ratio around ~6x the
    # baseline (64*s^2 extra squared distance per vector): far enough to
    # trip the flag, near enough that 10 shifted rows folded into ~250
    # base rows genuinely dilute the overall recompute below threshold
    baseline = incremental._load_manifest(idx)["baseline_msd"]
    s = (5.0 * baseline / 64.0) ** 0.5
    shifted = (
        corpus.filter(F.col("vec_id") % 2 == 1)
        .limit(10)
        .select(
            (F.col("vec_id") + 500_000).alias("vec_id"),
            F.expr(
                f"transform(embedding, x -> CAST(x + {s} AS FLOAT))"
            ).alias("embedding"),
        )
    )
    annindex.append_ann_index(spark, shifted, idx, "shifted")
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is True

    before = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    annindex.compact_ann_index(spark, idx)
    # queries unchanged (pure rewrite) AND the flag still raised
    after = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    assert after == before
    rep = annindex.ann_drift_report(idx)
    assert rep["rebuild_recommended"] is True
    (fold,) = rep["generations"]
    assert fold["drift_msd"] is not None  # fresh overall recompute
    assert fold["carried_max_drift_msd"] is not None
    # the dilution scenario is REAL here (the naive overall stays under
    # threshold) — the carried max is what keeps the signal alive
    assert fold["ratio"] < annindex.DRIFT_REBUILD_RATIO

    # a second fold keeps carrying it; only the retrain clears it
    annindex.append_ann_index(
        spark,
        corpus.filter(F.col("vec_id") % 2 == 1).limit(5),
        idx,
        "tiny-clean",
    )
    annindex.compact_ann_index(spark, idx)
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is True
    annindex.rebuild_ann_index(spark, idx, iters=2, sample_rate=1.0)
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is False
