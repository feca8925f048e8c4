"""append_to_index (operators/incremental.py): extending the persisted
base index after an increment is merged into the base.

The contract under test is the round-8 verdict's completion criterion:
probe-after-append must be BIT-IDENTICAL to probe-against-an-index-
rebuilt-from-the-merged-corpus, including when the append makes gram
document frequencies CROSS the df-cap (the appended index keeps the old
postings on disk but excludes them via the capped ledger, exactly as a
rebuild would have dropped them)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import assert_scans_consistent, bucket_scans, plan_of

# small cap so that merging the increment pushes a real set of grams
# over it — the crossing path is the one a lazy append would get wrong
MAX_DF = 8


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _split(spark):
    """Disjoint base/increment halves of the fixture corpus plus a probe
    batch drawn from BOTH halves (resubmissions, near-dups, fresh)."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
        .unionAll(
            docs.filter(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 4_000_000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"),
                F.array_join(
                    F.reverse(F.split(F.col("text"), " ", -1)), " "
                ).alias("text"),
            )
        )
    )
    return base, inc, batch


def _probe_all(spark, batch, idx):
    near = sorted(
        map(tuple, incremental.near_dups_vs_index(spark, batch, idx).collect())
    )
    cls = sorted(
        map(
            tuple,
            incremental.classify_batch_vs_index(spark, batch, idx).collect(),
        )
    )
    return near, cls


def test_probe_after_append_equals_rebuilt_index(spark, tmp_path):
    base, inc, batch = _split(spark)
    appended = str(tmp_path / "appended")
    incremental.build_base_index(base, appended, max_df=MAX_DF)
    assert incremental.append_to_index(spark, inc, appended, "inc-1") is True

    rebuilt = str(tmp_path / "rebuilt")
    incremental.build_base_index(base.unionAll(inc), rebuilt, max_df=MAX_DF)

    assert _probe_all(spark, batch, appended) == _probe_all(
        spark, batch, rebuilt
    )
    # the test is only meaningful if the append actually crossed the cap
    # for some grams (capped ledger gained entries in generation 1)
    crossed = spark.read.parquet(os.path.join(appended, "capped", "gen=1"))
    assert crossed.count() > 0, "fixture produced no cap crossings"
    # and the probe found all three categories across the merged corpus
    _, cls = _probe_all(spark, batch, appended)
    assert {c for _, c in cls} == {"exact_dup", "near_dup", "new"}


def test_append_is_idempotent_by_increment_id(spark, tmp_path):
    base, inc, batch = _split(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    assert incremental.append_to_index(spark, inc, idx, "epoch-7") is True
    before = _probe_all(spark, batch, idx)
    man_before = incremental._load_manifest(idx)
    # exactly-once replay: same increment_id is a committed no-op
    assert incremental.append_to_index(spark, inc, idx, "epoch-7") is False
    assert incremental._load_manifest(idx) == man_before
    assert _probe_all(spark, batch, idx) == before


def test_crash_orphaned_generation_is_invisible_then_replayed(spark, tmp_path):
    """A crash between the generation writes and the manifest commit
    leaves orphaned gen dirs; probes must not read them, and the replayed
    append must overwrite and commit them."""
    base, inc, batch = _split(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    base_only = _probe_all(spark, batch, idx)

    # simulate the crashed attempt: generation files on disk, NO commit
    man = incremental._load_manifest(idx)
    incremental._write_generation(
        idx,
        1,
        hashes=inc.select(F.md5("text").alias("k")),
        grams=spark.createDataFrame([], incremental._GRAMS_SCHEMA),
        sizes=inc.select(
            F.col("doc_id").cast("long").alias("base_id"),
            F.lit(1).cast("int").alias("sz_b"),
        ),
        gramdf=spark.createDataFrame([], incremental._GRAMDF_SCHEMA),
        capped=spark.createDataFrame([], incremental._CAPPED_SCHEMA),
    )
    assert incremental._load_manifest(idx) == man  # nothing committed
    # orphaned generation is invisible: probe == pre-crash probe (the
    # orphan's hashes would have flipped fresh docs to exact_dup)
    assert _probe_all(spark, batch, idx) == base_only

    # replay overwrites the orphan and commits
    assert incremental.append_to_index(spark, inc, idx, "epoch-1") is True
    rebuilt = str(tmp_path / "rebuilt")
    incremental.build_base_index(base.unionAll(inc), rebuilt, max_df=MAX_DF)
    assert _probe_all(spark, batch, idx) == _probe_all(spark, batch, rebuilt)


def test_append_rejects_v1_flat_layout(spark, tmp_path):
    import json

    idx = str(tmp_path / "v1")
    os.makedirs(idx)
    with open(os.path.join(idx, "_MANIFEST.json"), "w") as fh:
        json.dump({"max_df": 100, "ngram": 3, "gram_buckets": 64}, fh)
    with pytest.raises(ValueError, match="flat layout"):
        incremental.append_to_index(spark, _docs(spark), idx)


# ---------------------------------------------------------------- retired layouts
# Every layout an earlier round wrote and no current writer produces is
# refused with a ValueError at the point where it first shows up; none
# is upgraded in place. The v1 and v2 cases only write a manifest: v2
# kept one dir per bucket in every generation and recorded no bucket
# ranges to read them by.


def _write_v1_manifest(tmp_path, man: dict) -> str:
    import json

    idx = str(tmp_path / "v1")
    os.makedirs(idx)
    with open(os.path.join(idx, "_MANIFEST.json"), "w") as fh:
        json.dump(man, fh)
    return idx


def _v1_text(spark, tmp_path):
    idx = _write_v1_manifest(
        tmp_path, {"max_df": 100, "ngram": 3, "gram_buckets": 64}
    )
    incremental.vacuum_index(idx)


def _v1_lex(spark, tmp_path):
    idx = _write_v1_manifest(
        tmp_path,
        {
            "term_buckets": 64,
            "generations": [
                {"gen": 0, "increment_id": None, "n_docs": 1, "sum_dl": 1}
            ],
        },
    )
    lexindex.lexical_index_stats(spark, idx)


def _v1_ann(spark, tmp_path):
    idx = _write_v1_manifest(tmp_path, {"dim": 2, "model": [[0, [0.0, 0.0]]]})
    annindex.ann_index_stats(spark, idx)


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )


def _some_ids(spark, n):
    return _docs(spark).orderBy("doc_id").limit(n).select("doc_id")


def _ann_without_cell_counts(spark, tmp_path):
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(
        _emb(spark), idx, 64, cells=4, iters=2, sample_rate=1.0
    )
    man = incremental._load_manifest(idx)
    for g in man["generations"]:
        del g["cell_counts"]
    incremental._write_manifest(idx, man)
    annindex.ann_index_stats(spark, idx)


def _v2_text(spark, tmp_path):
    idx = _write_v1_manifest(
        tmp_path,
        {
            "version": 2, "max_df": 100, "ngram": 3, "gram_buckets": 64,
            "generations": [{"gen": 0, "increment_id": None}],
        },
    )
    incremental.vacuum_index(idx)


def _v2_lex(spark, tmp_path):
    idx = _write_v1_manifest(
        tmp_path,
        {
            "version": 2, "term_buckets": 64, "positions": False,
            "generations": [
                {"gen": 0, "increment_id": None, "n_docs": 1, "sum_dl": 1}
            ],
        },
    )
    lexindex.lexical_index_stats(spark, idx)


def _v2_ann(spark, tmp_path):
    idx = _write_v1_manifest(
        tmp_path,
        {
            "version": 2, "dim": 2, "model": [[0, [0.0, 0.0]]],
            "generations": [
                {"gen": 0, "increment_id": None, "cell_counts": {"0": 1}}
            ],
        },
    )
    annindex.ann_index_stats(spark, idx)


_RETIRED_LAYOUTS = {
    "v1-text": (_v1_text, "flat layout"),
    "v1-lex": (_v1_lex, "flat layout"),
    "v1-ann": (_v1_ann, "flat layout"),
    "v2-text": (_v2_text, "version-2 bucket-dir layout"),
    "v2-lex": (_v2_lex, "version-2 bucket-dir layout"),
    "v2-ann": (_v2_ann, "version-2 bucket-dir layout"),
    "no-cell-counts": (_ann_without_cell_counts, "no cell_counts"),
}


@pytest.mark.parametrize("case", list(_RETIRED_LAYOUTS))
def test_retired_layouts_raise(spark, tmp_path, case):
    run, message = _RETIRED_LAYOUTS[case]
    with pytest.raises(ValueError, match=message):
        run(spark, tmp_path)


def test_appended_probe_still_prunes_gram_buckets(spark, tmp_path):
    """Static bucket pruning must survive the multi-generation union —
    each generation's scan reads only the ranges holding the batch's
    gram buckets and filters on them."""
    base, inc, _ = _split(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    incremental.append_to_index(spark, inc, idx, "inc-1")
    one = _docs(spark).orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    df = incremental.near_dups_vs_index(spark, one, idx)
    plan = plan_of(df)
    assert len(bucket_scans(plan, "gb")) == 2  # both generations
    assert_scans_consistent(
        plan, incremental._load_manifest(idx), "grams", "gb",
        incremental.INDEX_GRAM_BUCKETS,
    )


def test_compact_folds_generations_preserves_probes_drops_dead_postings(
    spark, tmp_path
):
    base, inc, batch = _split(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    incremental.append_to_index(spark, inc, idx, "inc-1")
    before = _probe_all(spark, batch, idx)

    gen = incremental.compact_index(spark, idx)
    assert gen == 2
    # probe-parity: compacted == multi-generation == rebuild
    assert _probe_all(spark, batch, idx) == before
    man = incremental._load_manifest(idx)
    assert [(g["gen"], g["increment_id"]) for g in man["generations"]] == [
        (2, None)
    ]
    assert man["compacted_increments"] == ["inc-1"]
    # old generation dirs REMAIN on disk (an in-flight reader holding the
    # pre-flip manifest may still be scanning them) but are unlisted...
    for artifact in ("hashes", "grams", "sizes", "gramdf", "capped"):
        gens = sorted(os.listdir(os.path.join(idx, artifact)))
        assert gens == ["gen=0", "gen=1", "gen=2"], (artifact, gens)
    # ...until vacuum's age-based sweep removes them past the horizon
    swept = incremental.vacuum_index(idx, min_age_seconds=0.0)
    assert {s.split("/")[0] for s in swept} == {
        "hashes", "grams", "sizes", "gramdf", "capped"
    }
    for artifact in ("hashes", "grams", "sizes", "gramdf", "capped"):
        gens = sorted(os.listdir(os.path.join(idx, artifact)))
        assert gens == ["gen=2"], (artifact, gens)
    assert _probe_all(spark, batch, idx) == before
    # dead postings physically dropped: no posting row for a capped gram
    capped = {
        r.g for r in spark.read.parquet(os.path.join(idx, "capped", "gen=2")).collect()
    }
    assert capped, "compaction found no capped grams (fixture too clean)"
    posted = spark.read.option("basePath", os.path.join(idx, "grams", "gen=2")).parquet(
        os.path.join(idx, "grams", "gen=2")
    )
    from pyspark.sql import functions as F2

    assert posted.filter(F2.col("g").isin(list(capped)[:50])).count() == 0
    # append idempotence SURVIVES compaction (the folded manifest keeps
    # the applied-increment ledger)...
    assert incremental.append_to_index(spark, inc, idx, "inc-1") is False
    # ...and fresh appends keep working on the compacted index
    fresh = base.select((F.col("doc_id") + 70_000_000).alias("doc_id"), "text")
    assert incremental.append_to_index(spark, fresh, idx, "inc-2") is True
    assert incremental.exact_dups_vs_index(
        spark,
        base.select((F.col("doc_id") + 71_000_000).alias("doc_id"), "text"),
        idx,
    ).count() == base.count()


def test_append_parity_sweep_over_splits_and_caps(spark, tmp_path):
    """Deterministic sweep: probe-after-append == probe-after-rebuild for
    asymmetric splits and caps from punishing (every shared gram crosses)
    to effectively uncapped. Catches cap-rule asymmetries a single
    fixture can't (e.g. a rule that drops at >= instead of >)."""
    docs = _docs(spark)
    batch = _split(spark)[2]
    cases = [
        (F.col("doc_id") % 3 == 0, 5),  # small base, most grams cross
        (F.col("doc_id") % 3 != 0, 12),  # large base, few cross
        (F.col("doc_id") % 2 == 0, None),  # uncapped
        # bulk backfill: increment is 10x the base and a punishing cap
        # puts a large slice of the increment's gram vocabulary over it —
        # the shape where a forced broadcast of the over-cap set would
        # pressure the driver (the postings anti-join now lets AQE pick)
        (F.col("doc_id") % 10 == 0, 2),
    ]
    for i, (pred, cap) in enumerate(cases):
        base = docs.filter(pred)
        inc = docs.filter(~pred)
        appended = str(tmp_path / f"app{i}")
        rebuilt = str(tmp_path / f"reb{i}")
        incremental.build_base_index(base, appended, max_df=cap)
        incremental.append_to_index(spark, inc, appended, f"inc{i}")
        incremental.build_base_index(base.unionAll(inc), rebuilt, max_df=cap)
        assert _probe_all(spark, batch, appended) == _probe_all(
            spark, batch, rebuilt
        ), f"case {i} (cap={cap}) diverged"


def test_cap_boundary_exactly_max_df_is_kept_after_append(spark, tmp_path):
    """The cap rule is df > max_df drops (== keeps). A gram whose
    cumulative df lands EXACTLY on the cap after an append must keep all
    its postings; one past it must lose them — asserted directly on the
    probe output, plus rebuild parity."""
    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = docs([(1, "a b c"), (2, "a b c"), (3, "d e f"), (4, "d e f"), (5, "d e f")])
    inc = docs([(6, "a b c"), (7, "d e f")])  # "a b c" -> df 3 == cap; "d e f" -> 4 > cap
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=3)
    incremental.append_to_index(spark, inc, idx, "inc")
    probe = docs([(100, "a b c"), (200, "d e f")])
    near = sorted(
        (r.doc_id, r.base_id)
        for r in incremental.near_dups_vs_index(spark, probe, idx).collect()
    )
    # at-cap gram still matches every holder (incl. the appended doc 6);
    # over-cap gram matches nothing
    assert near == [(100, 1), (100, 2), (100, 6)], near
    rebuilt = str(tmp_path / "reb")
    incremental.build_base_index(base.unionAll(inc), rebuilt, max_df=3)
    assert _probe_all(spark, probe, idx) == _probe_all(spark, probe, rebuilt)


def test_concurrent_appends_commit_both_generations(spark, tmp_path):
    """Two threads append DISTINCT increments concurrently: generation
    claims keep their dirs distinct, the locked manifest commit drops
    neither, and the result probes identically to a rebuild (max_df=None
    — the documented concurrent relaxation only concerns the cap)."""
    import threading

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 3 == 0)
    inc1 = docs.filter(F.col("doc_id") % 3 == 1)
    inc2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=None)

    results = {}

    def _go(name, inc):
        results[name] = incremental.append_to_index(spark, inc, idx, name)

    t1 = threading.Thread(target=_go, args=("inc-1", inc1))
    t2 = threading.Thread(target=_go, args=("inc-2", inc2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert results == {"inc-1": True, "inc-2": True}
    man = incremental._load_manifest(idx)
    ids = sorted(g["increment_id"] for g in man["generations"] if g["increment_id"])
    gens = [g["gen"] for g in man["generations"]]
    assert ids == ["inc-1", "inc-2"] and len(set(gens)) == 3

    rebuilt = str(tmp_path / "reb")
    incremental.build_base_index(docs, rebuilt, max_df=None)
    batch = _split(spark)[2]
    assert _probe_all(spark, batch, idx) == _probe_all(spark, batch, rebuilt)


def test_vacuum_keeps_claim_of_actively_writing_append(spark, tmp_path):
    """A claim marker ages off the NEWEST file its generation produced,
    not the marker's own mtime — an append running longer than the vacuum
    horizon but still writing keeps its claim; one that went silent for
    the whole horizon loses it."""
    import time

    base, _, _ = _split(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)

    # in-flight appender: stale marker (mtime pushed into the past) but a
    # FRESH artifact file written moments ago
    marker = os.path.join(idx, f"{incremental._GENCLAIM_PREFIX}1")
    open(marker, "x").close()
    past = time.time() - 7200
    os.utime(marker, (past, past))
    gen_dir = os.path.join(idx, "hashes", "gen=1")
    os.makedirs(gen_dir)
    with open(os.path.join(gen_dir, "part-0.parquet"), "w") as fh:
        fh.write("x")
    swept = incremental.vacuum_index(idx, min_age_seconds=3600)
    assert swept == [] and os.path.exists(marker)

    # the same appender gone silent past the horizon: marker AND its
    # orphaned dir are swept
    os.utime(os.path.join(gen_dir, "part-0.parquet"), (past, past))
    os.utime(gen_dir, (past, past))
    swept = incremental.vacuum_index(idx, min_age_seconds=3600)
    assert f"{incremental._GENCLAIM_PREFIX}1" in swept
    assert "hashes/gen=1" in swept
    assert not os.path.exists(marker)


def test_commit_rejects_already_listed_generation(spark, tmp_path, monkeypatch):
    """Belt-and-braces for a stolen claim: if an append's generation
    number somehow got committed by another writer (claim vacuumed during
    an extreme stall), the locked manifest commit must raise instead of
    listing the number twice — _read_artifact would double-count that
    generation's postings."""
    import pytest as _pytest

    base, inc, _ = _split(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    monkeypatch.setattr(incremental, "_claim_generation", lambda path: 0)
    with _pytest.raises(RuntimeError, match="already committed"):
        incremental.append_to_index(spark, inc, idx, "inc-stolen")
    man = incremental._load_manifest(idx)
    assert [g["gen"] for g in man["generations"]] == [0]


def test_same_increment_id_race_commits_exactly_once(spark, tmp_path):
    import threading

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(base, idx, max_df=MAX_DF)

    results = []

    def _go():
        results.append(incremental.append_to_index(spark, inc, idx, "epoch-9"))

    threads = [threading.Thread(target=_go) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == [False, False, True]
    man = incremental._load_manifest(idx)
    assert [g["increment_id"] for g in man["generations"]].count("epoch-9") == 1
    # probe still equals rebuild despite the racing losers' orphans
    rebuilt = str(tmp_path / "reb")
    incremental.build_base_index(docs, rebuilt, max_df=MAX_DF)
    batch = _split(spark)[2]
    assert _probe_all(spark, batch, idx) == _probe_all(spark, batch, rebuilt)


def test_tiered_fold_preserves_probes_and_ledger(spark, tmp_path):
    """Round-11 verdict task 5: compact_index(max_generations_to_fold=K)
    folds only the NEWEST K generations. Probe parity must hold exactly —
    including for grams whose df-cap crossing is recorded in a FOLDED
    generation's ledger while their dead postings live in an UNFOLDED
    one (the case a recomputed ledger would get wrong) — and a second
    tiered fold plus a final full fold must keep converging to the
    rebuilt index."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 4 == 0)
    incs = [docs.filter(F.col("doc_id") % 4 == r) for r in (1, 2, 3)]
    _, _, batch = _split(spark)

    idx = str(tmp_path / "tiered")
    incremental.build_base_index(base, idx, max_df=MAX_DF)
    for i, inc in enumerate(incs):
        assert incremental.append_to_index(spark, inc, idx, f"inc-{i}") is True
    man = incremental._load_manifest(idx)
    assert len(man["generations"]) == 4
    # the scenario is only exercised if a later generation's ledger
    # excludes earlier generations' postings
    total_capped = sum(
        spark.read.parquet(os.path.join(idx, "capped", f"gen={g['gen']}")).count()
        for g in man["generations"][1:]
    )
    assert total_capped > 0, "fixture produced no cap crossings in appends"

    before = _probe_all(spark, batch, idx)

    # fold newest 2 (gens of inc-1, inc-2) -> [base, inc-0, fold]
    incremental.compact_index(spark, idx, max_generations_to_fold=2)
    man = incremental._load_manifest(idx)
    assert len(man["generations"]) == 3
    assert [g.get("increment_id") for g in man["generations"][:2]] == [
        None,
        "inc-0",
    ]
    assert set(man["compacted_increments"]) == {"inc-1", "inc-2"}
    assert _probe_all(spark, batch, idx) == before

    # replayed appends stay committed no-ops across the tiered fold
    for i, inc in enumerate(incs):
        assert incremental.append_to_index(spark, inc, idx, f"inc-{i}") is False

    # second tiered fold merges the previous fold with its neighbor
    # (LSM-style geometric merging), then a FULL fold converges to one
    incremental.compact_index(spark, idx, max_generations_to_fold=2)
    assert len(incremental._load_manifest(idx)["generations"]) == 2
    assert _probe_all(spark, batch, idx) == before
    incremental.compact_index(spark, idx)
    assert len(incremental._load_manifest(idx)["generations"]) == 1
    assert _probe_all(spark, batch, idx) == before

    # ...and everything still equals the from-scratch rebuild
    rebuilt = str(tmp_path / "rebuilt")
    merged = base
    for inc in incs:
        merged = merged.unionAll(inc)
    incremental.build_base_index(merged, rebuilt, max_df=MAX_DF)
    assert _probe_all(spark, batch, idx) == _probe_all(spark, batch, rebuilt)


def test_tiered_fold_rejects_k_below_two(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    incremental.build_base_index(docs, idx, max_df=MAX_DF)
    with pytest.raises(ValueError, match="max_generations_to_fold"):
        incremental.compact_index(spark, idx, max_generations_to_fold=1)
