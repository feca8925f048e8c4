"""Streaming similarity search — query batches arriving as files probe
the PERSISTED ANN index (operators/annindex.py) and land exactly-once.

The serving shape of embedding search at scale: the index (cell-
partitioned vectors + manifest model) is built offline and maintained by
the nightly driver (streaming/nightly.run_nightly); query traffic
arrives continuously; each micro-batch's probe reads ONLY the
cell partitions its queries hash into, so per-batch cost tracks batch
size and probed-cell volume, never corpus size — the vector twin of
streaming/dedup_stream.run_incremental_classify, with the same
exactly-once epoch-overwrite sink and checkpointed file pickup."""

from __future__ import annotations

from pyspark.sql import DataFrame


def run_ann_search(
    spark,
    input_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    k: int = 5,
    nprobe: int = 3,
    element_type: str = "double",
) -> None:
    """Watch ``input_dir`` for parquet files of (vec_id, embedding),
    rank each micro-batch's top-k against the stored index, write
    ``epoch=<id>`` dirs readable by ``sinks.read_warehouse``. Epoch ids
    are replay-stable: a crash between the write and the checkpoint
    commit re-OVERWRITES the same dir instead of appending a duplicate.
    ``element_type`` declares the embedding element type of the arriving
    files (file-stream sources need a declared schema)."""
    from pyspark.sql import types as T

    from ..operators.annindex import query_ann_index

    elem = {
        "double": T.DoubleType(),
        "float": T.FloatType(),
    }[element_type]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(elem)),
        ]
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = query_ann_index(spark, batch_df, index_path, k=k, nprobe=nprobe)
        out.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")

    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
