"""Index probes over sparse generations: an appended one-doc generation
holds postings in only a few term buckets, so a probe's gated buckets
may hold rows in some generations, in none of one, or in none at all.
Every case must answer exactly as the scan twins over the surviving
corpus, and the hybrid probe keeps its 1-row query contract."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    lexindex,
    retrieval,
)

BASE = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "a quick brown dog naps",
    3: "the lazy cat sleeps over the mat",
    4: "brown fox and brown dog",
    5: "quick quick fox",
    6: "the dog and the cat",
    7: "over the hills and far away",
    8: "lazy afternoon for a brown cat",
}
APPENDED = {9: "yak quick"}
DELETED = 4
DIM = 4
SCHEMA = "doc_id bigint, text string, embedding array<float>"


def _vec(i: int) -> list[float]:
    return [math.cos(i), math.sin(i), i / 10.0, 1.0 / i]


def _frame(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(i, t, _vec(i)) for i, t in sorted(texts.items())], SCHEMA
    )


def _buckets(spark, words) -> dict[str, int]:
    rows = (
        spark.createDataFrame([(w,) for w in words], "term string")
        .select("term", lexindex._tb("term").alias("tb"))
        .collect()
    )
    return {r["term"]: r["tb"] for r in rows}


def _held_buckets(spark, lex: str, gen: int) -> set[int]:
    """The term buckets generation ``gen`` holds postings in."""
    d = os.path.join(lex, "postings", f"gen={gen}")
    return {r["tb"] for r in spark.read.parquet(d).select("tb").distinct().collect()}


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def sparse(spark, tmp_path_factory):
    """gen 0 = the base docs, gen 1 = one appended doc, doc 4 deleted
    from both indexes (ANN first, as a takedown does)."""
    root = tmp_path_factory.mktemp("sparse")
    lex, ann = str(root / "lex"), str(root / "ann")
    base, extra = _frame(spark, BASE), _frame(spark, APPENDED)
    lexindex.build_lexical_index(base.select("doc_id", "text"), lex, positions=True)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, DIM, cells=2, iters=2, sample_rate=1.0,
    )
    assert lexindex.append_lexical_index(spark, extra, lex, "one")
    assert annindex.append_ann_index(
        spark, extra.select(F.col("doc_id").alias("vec_id"), "embedding"), ann, "one"
    )
    gone = spark.createDataFrame([(DELETED,)], "doc_id bigint")
    assert annindex.delete_from_ann_index(spark, gone, ann, "takedown")
    assert lexindex.delete_from_lexical_index(spark, gone, lex, "takedown")
    live = {i: t for i, t in {**BASE, **APPENDED}.items() if i != DELETED}
    return lex, ann, _frame(spark, live), live


def _phrase_scan(live: dict[int, str], phrase: str, k: int) -> list[tuple]:
    words = phrase.split(" ")
    hits = {}
    for i, text in live.items():
        toks = text.split(" ")
        n = sum(
            toks[p : p + len(words)] == words for p in range(len(toks) - len(words) + 1)
        )
        if n:
            hits[i] = n
    return sorted(sorted(hits.items(), key=lambda kv: (-kv[1], kv[0]))[:k])


QUERIES = {
    # both buckets hold postings in gen 0, none in the one-doc gen 1
    "none_in_appended": ["lazy", "cat"],
    # one term lives in gen 1, the other's bucket holds no gen-1 posting
    "some_in_appended": ["quick", "brown"],
}


def test_sparse_generation_probes_equal_scan_twins(spark, sparse):
    lex, ann, live_df, live = sparse
    tb = _buckets(spark, ["lazy", "cat", "quick", "brown"])
    gen1 = _held_buckets(spark, lex, 1)
    assert not {tb["lazy"], tb["cat"]} & gen1
    assert tb["quick"] in gen1 and tb["brown"] not in gen1
    docs = live_df.select("doc_id", "text")
    emb = live_df.select(F.col("doc_id").alias("vec_id"), "embedding")
    query = emb.filter(F.col("vec_id") == 1)
    for name, terms in QUERIES.items():
        got = _rows(lexindex.bm25_topk_from_index(spark, lex, terms, k=5))
        want = _rows(retrieval.bm25_topk(docs, terms, k=5))
        assert got == want and got, name
        got = _rows(
            lexindex.hybrid_topk_rrf_from_index(
                spark, lex, ann, terms, query, k=5, depth=5, nprobe=2
            )
        )
        want = _rows(
            retrieval.hybrid_topk_rrf(docs, emb, terms, 1, DIM, k=5, depth=5)
        )
        assert got == want and got, name
    for phrase in ("lazy cat", "quick brown", "yak quick", "brown dog"):
        got = _rows(lexindex.phrase_topk_from_index(spark, lex, phrase, k=5))
        assert got == _phrase_scan(live, phrase, 5), phrase


def test_terms_without_any_bucket_posting_return_empty(spark, sparse):
    lex, ann, live_df, live = sparse
    present = _held_buckets(spark, lex, 0) | _held_buckets(spark, lex, 1)
    candidates = [f"absent{i}" for i in range(200)]
    terms = [w for w, b in _buckets(spark, candidates).items() if b not in present][:2]
    assert len(terms) == 2
    assert lexindex.bm25_topk_from_index(spark, lex, terms, k=5).collect() == []
    assert lexindex.phrase_topk_from_index(spark, lex, " ".join(terms)).collect() == []
    # the hybrid's lexical leg is empty, its vector leg still serves
    docs = live_df.select("doc_id", "text")
    emb = live_df.select(F.col("doc_id").alias("vec_id"), "embedding")
    got = _rows(
        lexindex.hybrid_topk_rrf_from_index(
            spark, lex, ann, terms, emb.filter(F.col("vec_id") == 1),
            k=5, depth=5, nprobe=2,
        )
    )
    want = _rows(retrieval.hybrid_topk_rrf(docs, emb, terms, 1, DIM, k=5, depth=5))
    assert got == want and all(r[1] is None for r in got)


def test_hybrid_rejects_a_query_frame_without_exactly_one_row(spark, sparse):
    lex, ann, live_df, _ = sparse
    emb = live_df.select(F.col("doc_id").alias("vec_id"), "embedding")
    for query in (emb.filter(F.col("vec_id") == -1), emb.filter(F.col("vec_id") < 3)):
        with pytest.raises(ValueError, match="1-row query frame"):
            lexindex.hybrid_topk_rrf_from_index(spark, lex, ann, ["cat"], query)
