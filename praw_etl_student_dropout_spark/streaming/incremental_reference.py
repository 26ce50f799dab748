"""The WHOLE reference pipeline in its actual operating mode — incremental.

The reference never ran once: it re-ran on a cadence (11 timestamped
backup CSVs over 14 days, `.MISSING_LARGE_BLOBS:1-11`), relying on
MySQL INSERT IGNORE for dim stability (etl_pipeline.py:97,106) and
fact idempotence (:122). `plans/reference_pipeline.py` is the one-shot
batch form; this module is the cadence form as a CHECKPOINTED STREAM:
each micro-batch of raw posts runs transform → the batch form's
``upsert_star`` (dim UPSERT keeping existing surrogate keys, new natural
keys numbered after max — the exact INSERT IGNORE + SELECT-back
semantics → broadcast key-swap fact build → anti-join idempotent fact
append), reading and writing the versioned layout below.

Replay safety follows the repo's versioned-state convention
(stream_jobs._state_version_below): foreachBatch is at-least-once, so
- dims persist as ``dim_*/v{batch_id}``; a batch loads the newest
  version STRICTLY below its id (a crashed attempt's own write is
  invisible to its replay),
- fact rows land in a ``batch_id={N}`` partition REWRITTEN whole per
  batch (replay overwrites itself, never duplicates), with the
  anti-join screening only against PRIOR batches' partitions.

Final-state contract (pinned in tests/test_streaming.py): the star
read-back after the stream drains is VALUE-EQUAL to the one-shot batch
pipeline over the same posts — surrogate ids may differ (each load
numbers only the keys it has not seen, and the two paths group the
posts into loads differently) but the read-back resolves surrogates to
natural values, which is what the reference's charts consumed.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.reference_pipeline import read_star, transform, upsert_star
from ..sources.readers import read_parquet_or_none
from .stream_jobs import _state_version_below

RAW_POSTS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("content", T.StringType()),
        T.StructField("date", T.TimestampType()),
        T.StructField("url", T.StringType()),
        T.StructField("subreddit", T.StringType()),
    ]
)


def _reference_merge_one_batch(
    batch_df: DataFrame, batch_id: int, warehouse_dir: str
) -> None:
    """One micro-batch of the incremental reference pipeline;
    module-level for direct replay testing."""
    spark = batch_df.sparkSession

    def read_dim(table: str) -> DataFrame | None:
        v = _state_version_below(f"{warehouse_dir}/{table}", batch_id)
        return None if v is None else spark.read.parquet(f"{warehouse_dir}/{table}/v{v}")

    def write_dim(table: str, dim: DataFrame, new_rows: DataFrame) -> DataFrame:
        path = f"{warehouse_dir}/{table}/v{batch_id}"
        dim.unionByName(new_rows).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    fact_path = f"{warehouse_dir}/fact_post"
    prior = read_parquet_or_none(spark, fact_path)
    upsert_star(
        transform(batch_df.dropDuplicates(["id"])),
        read_dim,
        write_dim,
        None if prior is None else prior.filter(F.col("batch_id") < batch_id),
        # replay-idempotent: the batch's whole partition is rewritten
        lambda df: df.write.mode("overwrite").parquet(f"{fact_path}/batch_id={batch_id}"),
    )


def incremental_reference_stream(
    spark: SparkSession,
    posts_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain available raw-post files through the incremental pipeline
    (availableNow trigger — the reference's 'run the script again'
    cadence, checkpointed)."""
    stream = spark.readStream.schema(RAW_POSTS).parquet(posts_dir)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        _reference_merge_one_batch(batch_df, batch_id, warehouse_dir)

    q = (
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def query_star_incremental(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Star read-back over the incremental warehouse: newest dim
    versions + every fact partition (the batch pipeline's ``read_star``
    against the versioned layout)."""
    return read_star(
        spark,
        warehouse_dir,
        lambda path: f"{path}/v{_state_version_below(path, sys.maxsize)}",
    )
