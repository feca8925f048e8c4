"""Streaming deduplication — exactly-once ingestion for a 100 TB stream.

The batch dedup family (`operators/dedup.py`) answers "which documents in
this corpus are duplicates"; the streaming question is different: "this
event/document was RETRANSMITTED (at-least-once delivery, producer
retries) — emit it exactly once". The idiomatic Spark answer is
``dropDuplicatesWithinWatermark``: state is keyed by the dedup key and
EVICTED once the watermark passes, so state size is bounded by
(key cardinality within the watermark window), not by stream history —
the property that makes it run forever at scale. Plain streaming
``dropDuplicates`` without an event-time key would grow state without
bound; that is the trap this module exists to avoid.

The same function works on a batch DataFrame (watermark is a no-op
concept there) via ``dropDuplicates``, so batch==streaming parity is
testable (tests/test_streaming.py).

Reference tie-in: the reference's pipeline dedups ids within a bundle
(`dataflow/dataflow_transform.py:67-74`); retransmission-safe streaming
ingestion is its unbounded-input generalization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream_exact(
    records: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Emit the first arrival per ``key_cols``; suppress re-deliveries that
    arrive within ``watermark`` of the first. Keys older than the watermark
    are forgotten (bounded state); a duplicate arriving later than the
    watermark window is emitted again — that is the documented
    at-most-once-per-window contract of watermarked dedup, and the
    watermark should be sized to the producer's maximum retry horizon.

    On a batch frame this is plain ``dropDuplicates`` over the keys (the
    whole input is one "window").
    """
    keys = list(key_cols)
    if records.isStreaming:
        return records.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return records.dropDuplicates(keys)


def dedup_stream_content(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Content-keyed variant: exactly-once by md5(text) instead of an
    explicit id — the streaming twin of ``operators.dedup.exact_dup_pairs``
    keying. The hash column is computed map-side and dropped after the
    dedup, so only the 32-char key ever sits in the state store (not the
    document body)."""
    keyed = docs.withColumn("_content_k", F.md5(F.col(text_col)))
    out = dedup_stream_exact(
        keyed, key_cols=("_content_k",), time_col=time_col, watermark=watermark
    )
    return out.drop("_content_k")


def run_incremental_classify(
    spark,
    input_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
) -> None:
    """Nightly-increment dedup as a stream: watch ``input_dir`` for parquet
    batch files of (doc_id, text), classify each micro-batch against the
    PERSISTED base index (operators/incremental.build_base_index — the
    base corpus is never re-shingled), and land the per-doc categories
    exactly-once in an ``epoch=<id>`` warehouse readable by
    ``sinks.read_warehouse``.

    This is the composition the 100 TB operating mode actually runs:
    - per-batch cost tracks BATCH size (index probe prunes to the gram
      buckets the batch's own grams occupy), so the stream keeps up no
      matter how large the base grows;
    - the checkpoint makes file pickup incremental (a re-run classifies
      only newly arrived batch files — the sensor loop of the reference's
      daily DAG, `composer/sales_etl_dag.py:36-48`, without re-work);
    - the epoch-overwrite sink makes delivery exactly-once (epoch ids are
      replay-stable, so a crash between write and checkpoint commit
      re-OVERWRITES the same dir instead of appending a second copy —
      same discipline as file_stream.run_available_now);
    - the 'new' docs reach the index through ``nightly.run_nightly``
      (the classify → run_nightly recipe in its docstring), one
      immutable generation per epoch, and the stream keeps going.

    ``classify_batch_vs_index``'s driver-side gram-bucket gate (a <=64
    value collect) runs once per micro-batch inside foreachBatch, where
    the batch frame is an ordinary DataFrame.
    """
    from pyspark.sql import types as T

    from ..operators.incremental import classify_batch_vs_index, probe_cache_scope

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # probe_cache_scope bounds the probe's pinned batch-shingle cache
        # to THIS epoch — without it a long-running stream leaks one
        # MEMORY_AND_DISK entry per micro-batch (disk-backed blocks are
        # never evicted). The epoch write materializes inside the scope.
        with probe_cache_scope():
            out = classify_batch_vs_index(spark, batch_df, index_path, threshold)
            out.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")

    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
