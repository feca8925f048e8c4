"""End-to-end nightly loop (round-9 verdict task 6): streamed classify
against the persisted index -> merge the batch's genuinely-new docs into
the warehouse -> append_to_index -> the NEXT night's batch probes the
EXTENDED index. Crash mid-loop (between the generation writes and the
manifest commit) and replay: convergence, no reclassification drift.

This is the composition the 100 TB operating mode runs forever: per-batch
cost tracks batch size (probe prunes to the batch's gram buckets; append
cost tracks increment size), and every step is exactly-once (epoch dirs
for the stream, increment_id ledger for the append). The packaged form
is the classify -> run_nightly recipe in streaming/nightly.run_nightly's
docstring, driven here by ``_classify_then_nightly``."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import incremental
from gcp_serverless_etl_pipeline_lab_spark.sinks import read_warehouse
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming.dedup_stream import (
    run_incremental_classify,
)
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE

MAX_DF = 1000
THRESH = 0.8


def _pools(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    pool1 = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    pool2 = docs.filter(F.col("doc_id") % 3 == 2).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    return base, pool1, pool2


def _merge_new(spark, epoch_out, batch, idx, corpus_dir, increment_id):
    """The loop's merge step: docs the stream classified 'new' join back
    to their text, land in the merged-corpus warehouse, and extend the
    index — the append keyed by the epoch so a crashed replay is a
    no-op."""
    new_ids = read_warehouse(spark, epoch_out).filter(
        F.col("category") == "new"
    ).select("doc_id")
    new_docs = batch.join(new_ids, "doc_id")
    new_docs.write.mode("append").parquet(corpus_dir)
    return incremental.append_to_index(
        spark, new_docs, idx, increment_id=increment_id
    )


def test_nightly_loop_converges_across_crash(spark, tmp_path):
    base, pool1, pool2 = _pools(spark)
    idx = str(tmp_path / "idx")
    corpus_dir = str(tmp_path / "corpus")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")

    incremental.build_base_index(base, idx, max_df=MAX_DF)
    base.write.mode("overwrite").parquet(corpus_dir)

    # --- night 1: new content plus resubmissions of the base -----------
    night1 = pool1.unionAll(
        base.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"), "text"
        )
    )
    night1.coalesce(1).write.mode("append").parquet(inbox)
    out1 = str(tmp_path / "out1")
    run_incremental_classify(spark, inbox, idx, out1, ckpt, threshold=THRESH)

    # CRASH mid-merge: a generation was written but never committed
    # (manifest untouched) — the orphan must stay invisible...
    man_before = incremental._load_manifest(idx)
    incremental._write_generation(
        idx,
        1,
        hashes=night1.select(F.md5("text").alias("k")),
        grams=spark.createDataFrame([], incremental._GRAMS_SCHEMA),
        sizes=spark.createDataFrame([], incremental._SIZES_SCHEMA),
        gramdf=spark.createDataFrame([], incremental._GRAMDF_SCHEMA),
        capped=spark.createDataFrame([], incremental._CAPPED_SCHEMA),
    )
    assert incremental._load_manifest(idx) == man_before

    # ...and the replayed merge commits exactly once
    assert _merge_new(spark, out1, night1, idx, corpus_dir, "epoch-0") is True
    # a second replay of the same epoch (crash AFTER commit, before the
    # loop recorded success) is a committed no-op
    n_corpus = spark.read.parquet(corpus_dir).count()
    assert (
        incremental.append_to_index(
            spark,
            night1,
            idx,
            increment_id="epoch-0",
        )
        is False
    )
    assert spark.read.parquet(corpus_dir).count() == n_corpus

    # --- night 2: re-keyed copies of night-1's merged docs + fresh ------
    merged1 = spark.read.parquet(corpus_dir).filter(
        F.col("doc_id") >= 10_000_000
    )
    assert merged1.count() > 0, "night 1 merged nothing new"
    resub2 = merged1.select((F.col("doc_id") + 40_000_000).alias("doc_id"), "text")
    night2 = resub2.unionAll(pool2)
    night2.coalesce(1).write.mode("append").parquet(inbox)
    out2 = str(tmp_path / "out2")
    run_incremental_classify(spark, inbox, idx, out2, ckpt, threshold=THRESH)
    got2 = read_warehouse(spark, out2)

    # every re-keyed copy of a night-1-merged doc is caught by the
    # EXTENDED index as an exact dup — the proof the append took effect
    resub_cats = {
        r.category
        for r in got2.join(
            resub2.select("doc_id"), "doc_id", "left_semi"
        ).collect()
    }
    assert resub_cats == {"exact_dup"}, resub_cats

    # zero drift: streamed classify against the appended index ==
    # full recompute against the merged corpus at the same cap
    want = incremental.classify_batch(
        night2, spark.read.parquet(corpus_dir), threshold=THRESH, max_df=MAX_DF
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want.collect())
    )

    # loop invariant for the next iteration: merging night 2 keeps the
    # index == rebuild(merged corpus)
    assert _merge_new(spark, out2, night2, idx, corpus_dir, "epoch-1") is True
    rebuilt = str(tmp_path / "rebuilt")
    incremental.build_base_index(
        spark.read.parquet(corpus_dir), rebuilt, max_df=MAX_DF
    )
    probe = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"), "text"
    )
    via_appended = incremental.classify_batch_vs_index(spark, probe, idx)
    via_rebuilt = incremental.classify_batch_vs_index(spark, probe, rebuilt)
    assert sorted(map(tuple, via_appended.collect())) == sorted(
        map(tuple, via_rebuilt.collect())
    )
    # two committed generations beyond gen 0
    gens = incremental._load_manifest(idx)["generations"]
    assert [g["increment_id"] for g in gens] == [None, "epoch-0", "epoch-1"]
    assert os.path.isdir(os.path.join(idx, "grams", "gen=2"))


def _classify_then_nightly(spark, tmp_path, idx, **kw):
    """One night of the near-dup recipe (run_nightly's docstring):
    stream-classify the raw inbox against the text index, land every
    epoch the index's ledger lacks as child ``epoch-<id>`` of the
    landing inbox (its 'new' doc_ids joined back to their text), then
    ``run_nightly`` in its text-only configuration on that inbox."""
    inbox, out = str(tmp_path / "inbox"), str(tmp_path / "out")
    landing = str(tmp_path / "landing")
    run_incremental_classify(
        spark, inbox, idx, out, str(tmp_path / "ckpt"), threshold=THRESH
    )
    man = incremental._load_manifest(idx)
    applied = {
        g.get("increment_id") for g in man["generations"]
    } | set(man.get("compacted_increments", []))
    for name in sorted(os.listdir(out)):
        m = re.fullmatch(r"epoch=(\d+)", name)
        if m is None or f"epoch-{m.group(1)}" in applied:
            continue
        new_ids = (
            spark.read.parquet(os.path.join(out, name))
            .filter(F.col("category") == "new")
            .select("doc_id")
        )
        spark.read.parquet(inbox).select("doc_id", "text").join(
            new_ids, "doc_id"
        ).write.mode("overwrite").parquet(
            os.path.join(landing, f"epoch-{m.group(1)}")
        )
    return run_nightly(
        spark, landing, text_index_path=idx,
        merged_dir=str(tmp_path / "merged"), **kw,
    )


def _merged(spark, tmp_path):
    """The merged corpus: one parquet child per landed increment."""
    return spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "merged")
    )


def _probe_matches_rebuild(spark, tmp_path, base, idx):
    """The maintained index probes exactly like a rebuild over base +
    everything the nights merged."""
    full = base.unionAll(_merged(spark, tmp_path).select("doc_id", "text"))
    rebuilt = str(tmp_path / "rebuilt")
    incremental.build_base_index(full, rebuilt, max_df=MAX_DF)
    probe = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"), "text"
    )
    via_loop = incremental.classify_batch_vs_index(spark, probe, idx)
    via_rebuilt = incremental.classify_batch_vs_index(spark, probe, rebuilt)
    assert sorted(map(tuple, via_loop.collect())) == sorted(
        map(tuple, via_rebuilt.collect())
    )


def _land(df, tmp_path):
    df.coalesce(1).write.mode("append").parquet(str(tmp_path / "inbox"))


def test_classify_then_run_nightly_is_idempotent_and_converges(spark, tmp_path):
    """The classify -> run_nightly composition: two nights through ONE
    call each, a crash-replay call in between (no-op), and the final
    index equals a rebuild over base + everything merged."""
    base, pool1, pool2 = _pools(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)

    # night 1: fresh docs + resubmissions
    _land(
        pool1.unionAll(
            base.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"), "text"
            )
        ),
        tmp_path,
    )
    s1 = _classify_then_nightly(spark, tmp_path, idx)
    assert s1["appended_text"] == ["epoch-0"] and s1["new_docs"] > 0

    # crash-replay: nothing new arrived; everything is a committed no-op
    s_replay = _classify_then_nightly(spark, tmp_path, idx)
    assert s_replay["appended_text"] == [] and s_replay["new_docs"] == 0
    assert s_replay["skipped"] == ["epoch-0"]

    # night 2: re-keyed copies of night-1 merges (must be exact_dup now)
    merged1 = _merged(spark, tmp_path)
    resub2 = merged1.select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"), "text"
    )
    _land(resub2.unionAll(pool2), tmp_path)
    s2 = _classify_then_nightly(spark, tmp_path, idx)
    assert s2["appended_text"] == ["epoch-1"]

    got2 = spark.read.parquet(str(tmp_path / "out" / "epoch=1"))
    resub_cats = {
        r.category
        for r in got2.join(resub2.select("doc_id"), "doc_id", "left_semi").collect()
    }
    assert resub_cats == {"exact_dup"}, resub_cats

    # convergence: appended index == rebuild over base + merged corpus
    _probe_matches_rebuild(spark, tmp_path, base, idx)


def test_nightly_loop_compact_every_policy(spark, tmp_path):
    """compact_every: the text leg compacts once the manifest lists that
    many generations, replays across the compact boundary stay no-ops
    (epoch ledger moves to compacted_increments), and post-compaction
    nights keep converging to a rebuild."""
    base, pool1, pool2 = _pools(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)

    # night 1: below the policy (gen0 + epoch-0 = 2 generations < 3)
    _land(pool1, tmp_path)
    s1 = _classify_then_nightly(spark, tmp_path, idx, compact_every=3)
    assert s1["compacted"]["text"] is None
    assert len(incremental._load_manifest(idx)["generations"]) == 2

    # night 2 crosses the policy: 3 generations -> compact fires; the
    # zero-horizon vacuum then sweeps the unlisted pre-compaction dirs
    _land(pool2, tmp_path)
    s2 = _classify_then_nightly(
        spark, tmp_path, idx, compact_every=3, vacuum_min_age_seconds=0.0
    )
    gen = s2["compacted"]["text"]
    assert gen is not None
    man = incremental._load_manifest(idx)
    assert len(man["generations"]) == 1
    assert set(man["compacted_increments"]) == {"epoch-0", "epoch-1"}
    assert any(s.startswith("text:grams/gen=") for s in s2["vacuumed"]), s2
    gens_on_disk = sorted(os.listdir(os.path.join(idx, "grams")))
    assert gens_on_disk == [f"gen={gen}"]

    # replay across the compact boundary: nothing re-merges, no re-compact
    s3 = _classify_then_nightly(spark, tmp_path, idx, compact_every=3)
    assert s3["appended_text"] == [] and s3["compacted"]["text"] is None
    assert s3["vacuumed"] == []

    # convergence after compaction: loop index == rebuild over the
    # merged corpus
    _probe_matches_rebuild(spark, tmp_path, base, idx)


def test_nightly_loop_at_least_once_inbox_indexes_once(spark, tmp_path):
    """At-least-once delivery: the SAME doc_id retransmitted into two
    inbox files must enter the merged corpus and the index exactly once —
    the join-back against the whole inbox would otherwise produce
    duplicate increment rows and append_to_index would double every
    posting/size row for that base_id, corrupting Jaccard for all later
    probes."""
    base, pool1, _ = _pools(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)

    fresh = pool1.limit(20)
    # the producer retries: the same rows land in TWO inbox files
    _land(fresh, tmp_path)
    _land(fresh, tmp_path)
    s = _classify_then_nightly(spark, tmp_path, idx)

    # exactly one merged row per retransmitted doc_id (some of the 20 are
    # planted dups of the base and correctly classify away — what matters
    # is that NO doc_id entered twice)
    got = _merged(spark, tmp_path)
    assert 0 < got.count() == got.select("doc_id").distinct().count()
    assert s["new_docs"] == got.count()

    # one sizes row / one hash row per appended doc — the index never saw
    # the retransmission
    man = incremental._load_manifest(idx)
    sizes = incremental._read_artifact(
        spark, idx, "sizes", man, incremental._SIZES_SCHEMA
    )
    dup_sizes = (
        sizes.groupBy("base_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_sizes == 0


def test_nightly_loop_partial_fold_policy(spark, tmp_path):
    """max_generations_to_fold: the policy's compaction folds only the
    newest K generations — the base generation is left untouched
    (bounded maintenance window) — and the nights keep converging to a
    rebuild afterwards."""
    base, pool1, pool2 = _pools(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    gen0_mtime = os.path.getmtime(
        os.path.join(idx, "grams", "gen=0", "_SUCCESS")
    )

    _land(pool1, tmp_path)
    _classify_then_nightly(spark, tmp_path, idx)
    _land(pool2, tmp_path)
    s2 = _classify_then_nightly(
        spark, tmp_path, idx, compact_every=3, max_generations_to_fold=2
    )
    assert s2["compacted"]["text"] is not None
    man = incremental._load_manifest(idx)
    # base gen stays listed and physically untouched; the two epoch
    # generations folded into one
    assert [g.get("increment_id") for g in man["generations"]] == [None, None]
    assert man["generations"][0]["gen"] == 0
    assert set(man["compacted_increments"]) == {"epoch-0", "epoch-1"}
    assert (
        os.path.getmtime(os.path.join(idx, "grams", "gen=0", "_SUCCESS"))
        == gen0_mtime
    ), "partial fold rewrote the base generation"

    # replays stay no-ops; probes converge to the rebuild
    s3 = _classify_then_nightly(
        spark, tmp_path, idx, compact_every=3, max_generations_to_fold=2
    )
    assert s3["appended_text"] == [] and s3["compacted"]["text"] is None
    _probe_matches_rebuild(spark, tmp_path, base, idx)
