"""verify_forgotten (round-15 verdict task 4): the artifact-residue
audit as a user-facing operator. Served scope must be empty right after
a committed takedown; physical scope shows tombstone-masked rows until
compaction folds them; run_nightly(verify_deletes=True) runs the served
audit on the night's own takedowns and fails loudly on residue."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.takedown import (
    verify_forgotten,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE


def _corpus(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id")


def _ids(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


def _setup(spark, tmp_path):
    corpus = _corpus(spark)
    lex, ann, text, inbox, merged, deletes = (
        str(tmp_path / p)
        for p in ("lex", "ann", "text", "inbox", "merged", "deletes")
    )
    base = corpus.filter(F.col("doc_id") % 2 == 0)
    lexindex.build_lexical_index(base, lex)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    incremental.build_base_index(base.select("doc_id", "text"), text)
    corpus.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(inbox, "epoch=1")
    )
    run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged,
    )
    return corpus, lex, ann, text, inbox, merged, deletes


def test_audit_clean_after_nightly_takedown_and_physical_after_fold(
    spark, tmp_path
):
    corpus, lex, ann, text, inbox, merged, deletes = _setup(spark, tmp_path)
    vids = [r["doc_id"] for r in corpus.select("doc_id").limit(3).collect()]
    _ids(spark, vids).coalesce(1).write.parquet(os.path.join(deletes, "take=1"))
    # BEFORE the takedown: every family reports residue for the victims
    pre = verify_forgotten(
        spark, _ids(spark, vids), lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged,
    )
    fams = {r["artifact"] for r in pre.collect()}
    assert {
        "lex:postings", "lex:doclist", "ann:vectors", "ann:veclist",
        "text:grams", "text:sizes", "text:hashes", "merged",
    } <= fams
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, deletes_dir=deletes,
        verify_deletes=True,
    )
    assert r["applied_deletes"] == ["take=1"]
    assert r["forgotten_residue"] == 0
    # served scope: empty by direct call too
    post = verify_forgotten(
        spark, _ids(spark, vids), lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged,
    )
    assert post.count() == 0
    # physical scope: tombstone-masked rows still on disk by design...
    phys = verify_forgotten(
        spark, _ids(spark, vids), lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, scope="physical",
    )
    assert phys.count() > 0
    # ...and compaction folds them away
    lexindex.compact_lexical_index(spark, lex)
    annindex.compact_ann_index(spark, ann)
    incremental.compact_index(spark, text)
    phys2 = verify_forgotten(
        spark, _ids(spark, vids), lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, scope="physical",
    )
    assert phys2.count() == 0


def test_audit_reports_partial_takedown(spark, tmp_path):
    """Delete from the lexical index only: the audit must name every
    OTHER family still serving the doc."""
    corpus, lex, ann, text, inbox, merged, deletes = _setup(spark, tmp_path)
    # an increment doc: base-built docs never land in merged_dir, so an
    # odd id is the one with a corpus copy to report
    vid = (
        corpus.filter(F.col("doc_id") % 2 == 1)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    assert lexindex.delete_from_lexical_index(
        spark, _ids(spark, [vid]), lex, "partial"
    ) is True
    rep = verify_forgotten(
        spark, _ids(spark, [vid]), lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged,
    )
    fams = {r["artifact"] for r in rep.collect()}
    assert "lex:postings" not in fams and "lex:doclist" not in fams
    assert {"ann:vectors", "ann:veclist", "text:grams", "merged"} <= fams


def test_audit_scope_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="scope"):
        verify_forgotten(
            spark, _ids(spark, [1]), merged_dir=str(tmp_path), scope="nope"
        )
