"""The bucket-range index layout (``incremental._write_ranged``): each
generation of a bucketed artifact is split into as many bucket ranges as
its row count calls for, so a nightly-sized append writes one file per
artifact, a large generation keeps several ranges and a probe reads only
the one holding its term, and at ``g = buckets`` every bucket has its own
dir, the layout before ranges."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
    retrieval,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import assert_scans_pruned, bucket_scans, plan_of


def _files(d: str) -> list[str]:
    return [
        os.path.relpath(os.path.join(r, f), d)
        for r, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_nightly_sized_append_writes_one_file_per_artifact(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    night = F.col("doc_id") % 10 == 0
    lex, ann, text = (str(tmp_path / n) for n in ("lex", "ann", "text"))
    lexindex.build_lexical_index(docs.filter(~night), lex, positions=True)
    annindex.build_ann_index(
        emb.filter(F.col("vec_id") % 10 != 0), ann, 64, cells=8, iters=1,
        sample_rate=1.0,
    )
    incremental.build_base_index(docs.filter(~night), text)
    assert lexindex.append_lexical_index(spark, docs.filter(night), lex, "n1")
    assert annindex.append_ann_index(
        spark, emb.filter(F.col("vec_id") % 10 == 0), ann, "n1"
    )
    assert incremental.append_to_index(spark, docs.filter(night), text, "n1")
    gone = docs.filter(F.col("doc_id") % 10 == 1).limit(5).select("doc_id")
    assert annindex.delete_from_ann_index(spark, gone, ann, "d1")
    assert lexindex.delete_from_lexical_index(spark, gone, lex, "d1")
    assert incremental.delete_from_index(spark, gone, text, "d1")
    for idx, artifacts in (
        (lex, ("postings", "positions", "doclist")),
        (ann, ("vectors", "veclist")),
        (text, ("hashes", "grams", "sizes", "gramdf", "capped")),
    ):
        man = incremental._load_manifest(idx)
        new = man["generations"][-1]
        tomb = man["tombstones"][-1]
        assert new["g"] == 1, new
        for artifact in artifacts:
            files = _files(os.path.join(idx, artifact, f"gen={new['gen']}"))
            assert len(files) == 1, (artifact, files)
            if artifact in new["ranges"]:
                assert new["ranges"][artifact] == [0]
                assert files[0].startswith("r=0/"), files
        assert len(_files(os.path.join(idx, "tombstones", f"gen={tomb['gen']}"))) == 1


def _wide_docs(spark, n_docs: int):
    """``n_docs`` docs of 60 tokens each over a 4000-word vocabulary."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 59), "
            "i -> concat('w', cast(pmod(id * 31 + i * 17, 4000) AS string))))"
        ).alias("text"),
    )


def test_large_generation_gets_ranges_and_a_probe_scans_one(spark, tmp_path):
    docs = _wide_docs(spark, 1200)  # 72,000 tokens: more than one range
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    (gen0,) = lexindex._load_manifest(idx)["generations"]
    assert gen0["g"] == 2 and gen0["ranges"]["postings"] == [0, 1], gen0
    for r in (0, 1):
        assert len(_files(os.path.join(idx, "postings", "gen=0", f"r={r}"))) == 1
    term = ["w7"]
    (tb,) = lexindex._term_buckets(spark, term)
    df = lexindex.bm25_topk_from_index(spark, idx, term, k=5)
    plan = plan_of(df)
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), "postings", "tb",
        lexindex.TERM_BUCKETS, [tb],
    )
    ((ranges, _),) = bucket_scans(plan, "tb")
    assert ranges == {tb * 2 // lexindex.TERM_BUCKETS}
    # one range dir, one file: the scan lists nothing else
    assert re.findall(r"InMemoryFileIndex\((\d+) paths\)", plan) == ["1"]
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, retrieval.bm25_topk(docs, term, k=5).collect()))
    assert got and got == want


def test_one_range_per_bucket_at_full_granularity(spark, tmp_path, monkeypatch):
    """With the range target at one row, every generation reaches ``g =
    buckets``: each range dir holds exactly one bucket, and a probe's
    partition filter names exactly its buckets, as the per-bucket dirs
    before ranges did."""
    monkeypatch.setattr(incremental, "RANGE_ROWS", 1)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    (gen0,) = lexindex._load_manifest(idx)["generations"]
    assert gen0["g"] == lexindex.TERM_BUCKETS
    d = os.path.join(idx, "postings", "gen=0")
    for r in gen0["ranges"]["postings"]:
        held = spark.read.parquet(os.path.join(d, f"r={r}")).select("tb").distinct()
        assert [row["tb"] for row in held.collect()] == [r]
    terms = ["join", "filter", "vector"]
    buckets = lexindex._term_buckets(spark, terms)
    plan = plan_of(lexindex.bm25_topk_from_index(spark, idx, terms, k=5))
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), "postings", "tb",
        lexindex.TERM_BUCKETS, buckets,
    )
    ((ranges, _),) = bucket_scans(plan, "tb")
    assert ranges == set(buckets)
