"""Persisted base index for incremental dedup (operators/incremental.py):
index-probe output must be bit-identical to the full-recompute path, and
the index must be reusable across batches without rebuilding."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import incremental
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import assert_scans_consistent, bucket_scans, plan_of

MAX_DF = 1000


def _base(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _batch(spark, base):
    resub = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    near = base.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    fresh = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ", -1)), " ").alias("text"),
    )
    return resub.unionAll(near).unionAll(fresh)


def test_index_probe_matches_full_recompute(spark, tmp_path):
    base = _base(spark)
    batch = _batch(spark, base)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    via_index = sorted(
        map(tuple, incremental.classify_batch_vs_index(spark, batch, idx).collect())
    )
    recompute = sorted(
        map(tuple, incremental.classify_batch(batch, base, max_df=MAX_DF).collect())
    )
    assert via_index == recompute
    assert len(via_index) == batch.count()
    # all three categories are exercised by the synthetic batch
    assert {c for _, c in via_index} == {"exact_dup", "near_dup", "new"}


def test_near_pairs_match_including_jaccard_values(spark, tmp_path):
    base = _base(spark)
    batch = _batch(spark, base)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    via_index = sorted(
        map(tuple, incremental.near_dups_vs_index(spark, batch, idx).collect())
    )
    recompute = sorted(
        map(
            tuple,
            incremental.near_dups_vs_base(batch, base, max_df=MAX_DF).collect(),
        )
    )
    assert via_index == recompute and via_index


def test_index_reused_across_batches_without_rebuild(spark, tmp_path):
    """The nightly shape: ONE build, many probes. The second batch probes
    the same on-disk artifacts (no rebuild) and classifies correctly."""
    base = _base(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    stamp = {
        f: os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(idx)
        for f in fs
    }
    b1 = _batch(spark, base)
    out1 = incremental.classify_batch_vs_index(spark, b1, idx)
    assert out1.count() == b1.count()
    # a different batch: byte-identical resubmission of every 3rd doc
    b2 = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"), "text"
    )
    out2 = incremental.classify_batch_vs_index(spark, b2, idx).collect()
    assert {r.category for r in out2} == {"exact_dup"}
    # the probes never touched the index files
    after = {
        f: os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(idx)
        for f in fs
    }
    assert after == stamp


def test_probe_prunes_gram_buckets_for_small_batch(spark, tmp_path):
    """A small batch's grams occupy a strict subset of the hash buckets;
    the probe plan must filter on them and read only the ranges holding
    them (the flat-cost lever: a tiny nightly batch reads a slice of the
    postings, not all of them)."""
    base = _base(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    tiny = base.filter(F.col("doc_id") == base.agg(F.min("doc_id")).collect()[0][0])
    tiny = tiny.select((F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    df = incremental.near_dups_vs_index(spark, tiny, idx)
    plan = plan_of(df)
    ((_, gbs),) = bucket_scans(plan, "gb")
    assert 0 < len(gbs) < incremental.INDEX_GRAM_BUCKETS
    assert_scans_consistent(
        plan, incremental._load_manifest(idx), "grams", "gb",
        incremental.INDEX_GRAM_BUCKETS,
    )
    # and the pruned probe still finds the exact-resubmitted doc as a
    # jaccard-1.0 near match of its source
    rows = df.collect()
    assert any(r.jaccard == 1.0 for r in rows)


def test_probe_cache_scope_releases_pinned_frames(spark, tmp_path):
    """ADVICE r8: near_dups_vs_index pins the batch-shingle frame; a
    long-lived driver probing once per micro-batch leaked one
    MEMORY_AND_DISK entry per epoch. probe_cache_scope must release
    exactly the frames the probe pinned — and the released plan must
    still be correct if re-executed (unpersist drops the cache, not the
    lineage)."""
    from pyspark.storagelevel import StorageLevel

    base = _base(spark)
    batch = _batch(spark, base)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    with incremental.probe_cache_scope() as pinned:
        out = incremental.classify_batch_vs_index(spark, batch, idx)
        rows = out.collect()
        assert len(rows) == batch.count()
        assert pinned, "probe pinned nothing"
        assert all(
            f.storageLevel != StorageLevel.NONE for f in pinned
        ), "frames not pinned during the scope"
    assert all(
        f.storageLevel == StorageLevel.NONE for f in pinned
    ), "scope leaked a cache"
    # plan re-executed AFTER release: recomputed, identical
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rows))


def test_probe_without_scope_keeps_legacy_pinning(spark, tmp_path):
    """Without a scope the one-shot contract is unchanged: the cache is
    pinned (reused across the probe's three consumers) until session
    eviction. Explicitly unpersist here to keep the test session clean."""
    base = _base(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = incremental.near_dups_vs_index(spark, _batch(spark, base), idx)
    assert out.count() > 0
    assert jsc.getPersistentRDDs().size() > before
    spark.catalog.clearCache()
