"""Plan pins for the round-12 additions — the doclist membership probe
(doc-bucket partition pruning, no postings scan) and the compact_index
capped-set anti-join left to AQE (no forced broadcast of an unbounded
set)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import lexindex
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE
from index_pins import assert_scans_pruned, plan_of as _plan


def test_indexed_doc_ids_prunes_doclist_and_skips_postings(spark, tmp_path):
    """The membership probe must read the doclist artifact pruned to the
    asked ids' db buckets, and must not touch the postings (whose doc_id
    column is |postings|-sized and term-bucketed — every bucket would
    scan)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    # ask about ids landing in few buckets: multiples of 128 hit only
    # db = 0 (128 % 64 == 0) — the pruned plan reads the one range
    # holding it
    asked = spark.range(0, 512, 128).select(F.col("id").alias("doc_id"))
    df = lexindex.indexed_doc_ids(spark, idx, asked)
    plan = _plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert_scans_pruned(
        plan, lexindex._load_manifest(idx), "doclist", "db",
        lexindex.DOC_BUCKETS, [0],
    )
    assert not any("postings" in ln for ln in scan_lines), (
        "membership probe scans the postings"
    )
    got = {r["doc_id"] for r in df.collect()}
    want = {
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") % 128 == 0)
        .filter(F.col("doc_id") < 512)
        .select("doc_id")
        .collect()
    }
    assert got == want
