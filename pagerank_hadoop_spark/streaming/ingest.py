"""Streaming index ingest (E6 × E3): maintain a persisted ANN index
from a micro-batched embedding stream.

The 100 TB serving pattern: embeddings arrive continuously (crawl
batches, daily shards); the IVF-PQ model is FROZEN (trained once on a
bounded sample — retraining is a separate, rare event), so index
maintenance is a pure per-row encode map over each micro-batch,
appended to the cell-partitioned parquet index that
``similarity.ivf_pq_query`` serves with partition pruning. Because
encoding under a frozen model is deterministic and order-free, the
stream-built index EQUALS the batch-built one row-for-row — the merge
law that makes incremental ingest safe (unit-pinned, and pinned by the
``stream_ivf_pq_ingest`` registry query's self-check columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pagerank_hadoop_spark.streaming.windows import drain


def stream_index_ingest(
    spark: SparkSession,
    emb_dir: str,
    model: dict,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """readStream over an embeddings parquet directory, encode each
    micro-batch against the frozen ``model``
    (:func:`...similarity.ivf_pq_encode` — shuffle-free Arrow map),
    append to a cell-partitioned parquet index, drain
    (:func:`...windows.drain`), and return the index DataFrame read
    back from ``out_dir``.

    ``maxFilesPerTrigger=1`` forces multiple real micro-batches so the
    test actually exercises cross-batch append semantics, not one big
    batch."""
    from pagerank_hadoop_spark.operators.similarity import ivf_pq_encode

    schema = spark.read.parquet(emb_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(emb_dir)
    )
    enc = ivf_pq_encode(
        src.select(
            F.col(id_col),
            F.col(emb_col).cast("array<double>").alias("__vec"),
        ),
        model,
        id_col=id_col,
        vec_col="__vec",
        # no per-trigger spread: a micro-batch is one staged file, and
        # repartitioning it 32-way inside every trigger shuffled the
        # batch AND wrote ~32x the index files under partitionBy(cell)
        # (file-listing + open cost on every later index read)
        spread=False,
    )
    drain(
        enc,
        sink=lambda w: w.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cell"),
    )
    return spark.read.parquet(out_dir)
