"""Job-floor pins for the index probes: building a BM25 or phrase probe
fires no Spark job (the term-bucket gate runs on the driver and the
scan paths come from the manifest), the postings scan's file index
holds only the range dirs of the gated buckets, and the hybrid probe
evaluates its 1-row query frame exactly once."""

from __future__ import annotations

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import annindex, lexindex
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import ranges_for

TERMS = ["join", "vector"]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A two-generation positional lexical index and an ANN index over
    the smoke corpus."""
    root = tmp_path_factory.mktemp("r17")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    lex, ann = str(root / "lex"), str(root / "ann")
    lexindex.build_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), lex, positions=True
    )
    lexindex.append_lexical_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), lex, "odd"
    )
    annindex.build_ann_index(emb, ann, 64, cells=8, iters=2, sample_rate=1.0)
    return lex, ann


def _jobs_fired(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, counted under a fresh job
    group through the status tracker."""
    sc = spark.sparkContext
    group = f"r17-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_probe_builders_fire_no_jobs(spark, indexes):
    lex, _ = indexes
    assert _jobs_fired(
        spark, lambda: lexindex.bm25_topk_from_index(spark, lex, TERMS, k=5)
    ) == 0
    assert _jobs_fired(
        spark, lambda: lexindex.phrase_matching_docs(spark, lex, "join the")
    ) == 0


def test_postings_scan_lists_only_gated_bucket_dirs(spark, indexes):
    lex, _ = indexes
    buckets = {
        r["tb"]
        for r in spark.createDataFrame([(t,) for t in TERMS], "term string")
        .select(lexindex._tb("term").alias("tb"))
        .collect()
    }
    assert len(buckets) == 2
    plan = (
        lexindex.bm25_topk_from_index(spark, lex, TERMS, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = re.findall(r"InMemoryFileIndex\((\d+) paths\)\[([^,\]]+)", plan)
    assert len(scans) == 2, plan  # one scan per generation
    for n, first in scans:
        assert re.search(r"/postings/gen=\d+/r=\d+$", first), first
    listed = sum(int(n) for n, _ in scans)
    man = lexindex._load_manifest(lex)
    gated = [
        ranges_for(g, "postings", lexindex.TERM_BUCKETS, buckets)
        for g in man["generations"]
    ]
    assert listed == sum(map(len, gated)) <= len(buckets) * 2
    assert all(
        os.path.isdir(os.path.join(lex, "postings", f"gen={g['gen']}", f"r={r}"))
        for g, ranges in zip(man["generations"], gated)
        for r in ranges
    )


def test_hybrid_evaluates_python_backed_query_once(spark, indexes):
    lex, ann = indexes
    emb = load_table(spark, SF_SMOKE, "embeddings")
    row = emb.filter(F.col("vec_id") == 7).select("vec_id", "embedding").first()
    evaluations = spark.sparkContext.accumulator(0)

    def _tick(v):
        evaluations.add(1)
        return v

    query = spark.createDataFrame(
        [(row["vec_id"], row["embedding"])], "vec_id bigint, embedding array<float>"
    ).select("vec_id", F.udf(_tick, "array<float>")("embedding").alias("embedding"))
    got = lexindex.hybrid_topk_rrf_from_index(
        spark, lex, ann, TERMS, query, k=10, depth=20, nprobe=3
    ).collect()
    assert len(got) == 10
    assert evaluations.value == 1
