"""Round-15 verdict/advice closures on the takedown pipeline:

- `_purge_merged` child removal is ATOMIC (advice-medium): a crash
  mid-removal can no longer leave a partial child that poisons the
  recovery into sweeping the complete survivors tmp — the child is
  condemned by one os.rename before any rmtree.
- purge READ cost tracks the delete's blast radius (verdict task 2):
  per-child id stats (min/max + occupancy bitmap) in
  `_child_stats.json` let provably-disjoint children be skipped
  without a read; legacy children are read once and backfilled.
- `deletes_dir/_applied.json` is capped to increments still present
  (verdict task 6).
- a flat-layout (config) error propagates out of the nightly delete
  stage as a ValueError.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import incremental
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming import nightly as nightly_mod
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE


def _ids_df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


def _write_child(spark, merged, name, rows, record_stats=True):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(merged, name))
    if record_stats:
        nightly_mod._record_child_stats(merged, name, df, "doc_id")


def _child_rows(spark, merged, name):
    return sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(os.path.join(merged, name)).collect()
    )


# ---------------------------------------------------------------- purge atomicity


def test_purge_recovery_restores_tmp_over_partial_doomed(spark, tmp_path):
    """The advice scenario, now unreachable in normal operation but
    still healed: survivors tmp complete, child condemned (renamed to
    .purge-doomed-*), rmtree of the doomed dir died halfway. Recovery
    must restore the tmp as the child and sweep the doomed debris —
    never treat the tmp as stale."""
    merged = str(tmp_path / "merged")
    _write_child(spark, merged, "night=1", [(1, "a"), (2, "b"), (3, "c")])
    surv = [(2, "b"), (3, "c")]
    # simulate the crash state by hand
    spark.createDataFrame(surv, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(os.path.join(merged, ".purge-tmp-night=1"))
    os.rename(
        os.path.join(merged, "night=1"),
        os.path.join(merged, ".purge-doomed-night=1"),
    )
    # partial rmtree: drop one file from the doomed dir
    doomed = os.path.join(merged, ".purge-doomed-night=1")
    victim_file = next(
        p for p in os.listdir(doomed) if p.endswith(".parquet")
    )
    os.remove(os.path.join(doomed, victim_file))
    r = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [999]), "doc_id")
    assert r["purged"] == 0
    assert _child_rows(spark, merged, "night=1") == sorted(surv)
    left = [n for n in os.listdir(merged) if n.startswith(".purge-")]
    assert left == []


def test_purge_recovery_sweeps_stale_tmp_when_child_intact(spark, tmp_path):
    """A tmp whose child still exists is debris of a purge that died
    before the condemn — swept, and the redo re-purges the child."""
    merged = str(tmp_path / "merged")
    _write_child(spark, merged, "night=1", [(1, "a"), (2, "b")])
    spark.createDataFrame(
        [(2, "b")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(os.path.join(merged, ".purge-tmp-night=1"))
    r = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [1]), "doc_id")
    assert r["purged"] == 1
    assert _child_rows(spark, merged, "night=1") == [(2, "b")]
    assert not [n for n in os.listdir(merged) if n.startswith(".purge-")]


def test_purge_removes_fully_doomed_child_and_stats(spark, tmp_path):
    merged = str(tmp_path / "merged")
    _write_child(spark, merged, "night=1", [(1, "a"), (2, "b")])
    _write_child(spark, merged, "night=2", [(100, "x")])
    r = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [1, 2]), "doc_id")
    assert r["purged"] == 2
    assert not os.path.exists(os.path.join(merged, "night=1"))
    assert not [n for n in os.listdir(merged) if n.startswith(".purge-")]
    assert set(nightly_mod._load_child_stats(merged)) == {"night=2"}


# ---------------------------------------------------------------- purge read cost


def test_purge_skips_disjoint_children_without_read(spark, tmp_path):
    merged = str(tmp_path / "merged")
    _write_child(spark, merged, "night=1", [(i, f"t{i}") for i in range(10)])
    _write_child(
        spark, merged, "night=2", [(i, f"t{i}") for i in range(100, 110)]
    )
    r = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [5]), "doc_id")
    assert r["purged"] == 1
    assert r["children_read"] == 1 and r["children_skipped"] == 1
    # the skipped child is untouched
    assert len(_child_rows(spark, merged, "night=2")) == 10


def test_purge_backfills_legacy_stats_once(spark, tmp_path):
    merged = str(tmp_path / "merged")
    _write_child(
        spark, merged, "night=1", [(i, f"t{i}") for i in range(10)],
        record_stats=False,
    )
    _write_child(
        spark, merged, "night=2", [(i, f"t{i}") for i in range(100, 110)],
        record_stats=False,
    )
    assert nightly_mod._load_child_stats(merged) == {}
    # legacy dir: first delete night reads everything, backfilling stats
    r1 = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [500]), "doc_id")
    assert r1["children_read"] == 2 and r1["purged"] == 0
    assert set(nightly_mod._load_child_stats(merged)) == {"night=1", "night=2"}
    # second delete night: disjoint ids, zero reads
    r2 = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [500]), "doc_id")
    assert r2["children_read"] == 0 and r2["children_skipped"] == 2


def test_purge_rewrite_refreshes_stats(spark, tmp_path):
    merged = str(tmp_path / "merged")
    _write_child(spark, merged, "night=1", [(i, f"t{i}") for i in range(10)])
    r1 = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [9]), "doc_id")
    assert r1["purged"] == 1 and r1["children_read"] == 1
    assert nightly_mod._load_child_stats(merged)["night=1"]["max"] == 8
    # re-deleting the already-purged id is provably disjoint: no read
    r2 = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [9]), "doc_id")
    assert r2["children_read"] == 0


def test_stats_are_conservative_under_manual_superset(spark, tmp_path):
    """A stale stats entry (superset of the live ids) must only cause
    extra reads, never a wrong skip — the correctness stays with the
    joins on the children actually read."""
    merged = str(tmp_path / "merged")
    _write_child(spark, merged, "night=1", [(5, "keep"), (6, "doomed")])
    # widen the recorded range by hand (simulates any stale entry)
    stats = nightly_mod._load_child_stats(merged)
    stats["night=1"]["min"], stats["night=1"]["max"] = 0, 10_000
    stats["night=1"]["bitmap"] = "ff" * (nightly_mod._STATS_BUCKETS // 8)
    nightly_mod._write_child_stats(merged, stats)
    r = nightly_mod._purge_merged(spark, merged, _ids_df(spark, [6]), "doc_id")
    assert r["purged"] == 1 and r["children_read"] == 1
    assert _child_rows(spark, merged, "night=1") == [(5, "keep")]


def test_nightly_purge_telemetry_and_child_stats(spark, tmp_path):
    """run_nightly records child stats at append time, so the very
    first delete night already skips disjoint children."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    inbox, merged, deletes, text = (
        str(tmp_path / "inbox"), str(tmp_path / "merged"),
        str(tmp_path / "deletes"), str(tmp_path / "text"),
    )
    lo = docs.filter(F.col("doc_id") < 50)
    hi = docs.filter(F.col("doc_id") >= 400)
    lo.coalesce(1).write.parquet(os.path.join(inbox, "epoch=1"))
    hi.coalesce(1).write.parquet(os.path.join(inbox, "epoch=2"))
    incremental.build_base_index(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 220)), text
    )
    run_nightly(spark, inbox, text_index_path=text, merged_dir=merged)
    assert set(nightly_mod._load_child_stats(merged)) == {"epoch=1", "epoch=2"}
    vid = lo.agg(F.min("doc_id")).collect()[0][0]
    _ids_df(spark, [vid]).coalesce(1).write.parquet(
        os.path.join(deletes, "take=1")
    )
    r = run_nightly(
        spark, inbox, text_index_path=text, merged_dir=merged,
        deletes_dir=deletes,
    )
    assert r["applied_deletes"] == ["take=1"]
    assert r["purged_merged_docs"] == 1
    assert r["purge_children_read"] == 1
    assert r["purge_children_skipped"] == 1


# ---------------------------------------------------------------- ledger cap


def test_applied_ledger_capped_to_present_children(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    inbox, merged, deletes, text = (
        str(tmp_path / "inbox"), str(tmp_path / "merged"),
        str(tmp_path / "deletes"), str(tmp_path / "text"),
    )
    docs.limit(20).coalesce(1).write.parquet(os.path.join(inbox, "epoch=1"))
    incremental.build_base_index(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 220)), text
    )
    run_nightly(spark, inbox, text_index_path=text, merged_dir=merged)
    vids = [r["doc_id"] for r in docs.limit(2).collect()]
    _ids_df(spark, [vids[0]]).coalesce(1).write.parquet(
        os.path.join(deletes, "take=1")
    )
    run_nightly(
        spark, inbox, text_index_path=text, merged_dir=merged,
        deletes_dir=deletes,
    )
    with open(os.path.join(deletes, "_applied.json")) as fh:
        assert json.load(fh) == ["take=1"]
    # the operator retires the applied increment file; the next night's
    # ledger write drops the absent entry instead of growing forever
    shutil.rmtree(os.path.join(deletes, "take=1"))
    _ids_df(spark, [vids[1]]).coalesce(1).write.parquet(
        os.path.join(deletes, "take=2")
    )
    r = run_nightly(
        spark, inbox, text_index_path=text, merged_dir=merged,
        deletes_dir=deletes,
    )
    assert r["applied_deletes"] == ["take=2"]
    with open(os.path.join(deletes, "_applied.json")) as fh:
        assert json.load(fh) == ["take=2"]


# ---------------------------------------------------------------- layout errors


def test_nightly_delete_config_error_propagates_without_corpus_read(
    spark, tmp_path
):
    """A flat-layout (config) ValueError must propagate out of a nightly
    run that carries delete increments."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    inbox, merged, deletes, text = (
        str(tmp_path / "inbox"), str(tmp_path / "merged"),
        str(tmp_path / "deletes"), str(tmp_path / "text"),
    )
    docs.limit(10).coalesce(1).write.parquet(os.path.join(inbox, "epoch=1"))
    incremental.build_base_index(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 220)), text
    )
    run_nightly(spark, inbox, text_index_path=text, merged_dir=merged)
    vid = docs.limit(1).collect()[0]["doc_id"]
    _ids_df(spark, [vid]).coalesce(1).write.parquet(
        os.path.join(deletes, "take=1")
    )
    # simulate a pre-append flat-layout index
    man = incremental._load_manifest(text)
    man.pop("version", None)
    incremental._write_manifest(text, man)
    with pytest.raises(ValueError, match="flat layout"):
        run_nightly(
            spark, inbox, text_index_path=text, merged_dir=merged,
            deletes_dir=deletes,
        )


# ---------------------------------------------------------------- observability


def test_index_stats_track_lifecycle(spark, tmp_path):
    """lexical_index_stats / ann_index_stats (round 15): the manifest
    report must track the append -> delete -> fold chain exactly —
    n_docs/sum_dl are live membership (delete-adjusted), the ANN count
    is listed occupancy (tombstones retire at fold, as documented)."""
    from pyspark.sql import functions as F

    from gcp_serverless_etl_pipeline_lab_spark.operators import (
        annindex,
        lexindex,
    )
    from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    lexindex.build_lexical_index(even, idx, positions=True)
    st = lexindex.lexical_index_stats(spark, idx).collect()[0]
    n_even = even.count()
    assert st["n_docs"] == n_even and st["n_generations"] == 1
    assert st["positions"] is True and st["n_tombstones"] == 0
    lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), idx, "odd"
    )
    st = lexindex.lexical_index_stats(spark, idx).collect()[0]
    n_all = docs.count()
    assert st["n_docs"] == n_all and st["n_generations"] == 2
    doomed = docs.limit(3).select("doc_id")
    assert lexindex.delete_from_lexical_index(spark, doomed, idx, "t") is True
    st = lexindex.lexical_index_stats(spark, idx).collect()[0]
    assert st["n_docs"] == n_all - 3 and st["n_tombstones"] == 1
    lexindex.compact_lexical_index(spark, idx)
    st = lexindex.lexical_index_stats(spark, idx).collect()[0]
    assert st["n_docs"] == n_all - 3
    assert st["n_generations"] == 1 and st["n_tombstones"] == 0
    # ANN twin: occupancy semantics
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    aidx = str(tmp_path / "ann")
    annindex.build_ann_index(emb, aidx, 64, cells=8, iters=2, sample_rate=1.0)
    ast = annindex.ann_index_stats(spark, aidx).collect()[0]
    n_vec = emb.count()
    assert ast["n_vectors"] == n_vec and ast["dim"] == 64 and ast["cells"] == 8
    vics = emb.limit(2).select(F.col("vec_id"))
    assert annindex.delete_from_ann_index(spark, vics, aidx, "t") is True
    ast = annindex.ann_index_stats(spark, aidx).collect()[0]
    # occupancy until fold (documented), tombstone visible immediately
    assert ast["n_vectors"] == n_vec and ast["n_tombstones"] == 1
    annindex.compact_ann_index(spark, aidx)
    ast = annindex.ann_index_stats(spark, aidx).collect()[0]
    assert ast["n_vectors"] == n_vec - 2 and ast["n_tombstones"] == 0
