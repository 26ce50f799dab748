"""The reference pipeline, end-to-end (etl_pipeline.py:1-208), composed
from engine operators — the switch-over proof: everything the reference
script does, as one orchestrated Spark flow.

Stage map (reference line → engine op):

1. Extract   :23-63  → Python Data Source scan over the query matrix
                       (parallel partitions) + dropDuplicates(id)
2. Snapshot  :67-70  → timestamped CSV snapshot (empty-guarded)
3. Transform :73-81  → native-expression clean/sentiment/label/flag/year
4. Load      :85-137 → dim upsert (existing surrogates kept, new keys
                       numbered after the max) + broadcast key-swap fact
                       build + idempotent anti-join append
5. Query     :141-159→ 3-way star join read-back
6. Insights  :163-205→ pivot heatmap + single-pass scalar summary + top-1s

Each run is incremental-safe: re-running against the same warehouse adds
nothing (INSERT IGNORE parity) — the property the reference got from
MySQL and the backup-file cadence, here from anti-joins alone. A re-run
with another key set keeps every earlier surrogate key, so earlier facts
read back under the subreddit they were loaded with.

``upsert_star`` and ``read_star`` are the one load and the one read-back
both this batch form and the stream form
(``streaming/incremental_reference.py``) run; the two differ only in
where the tables live.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import clean_text, dropout_mentioned, sentiment_label, sentiment_score
from ..operators.aggregations import insight_summary, mode_of, pivot_count
from ..operators.etl import build_fact, new_dim_rows
from ..sources.readers import read_parquet_or_none
from ..sources.writers import csv_snapshot, idempotent_append

# (table, enriched column, dim natural key, surrogate key, natural key type)
_DIMS = (
    ("dim_subreddit", "subreddit", "name", "subreddit_id", "string"),
    ("dim_time", "year", "year", "time_id", "int"),
)
_FACT_COLS = [
    "id", "content", "url", "sentiment", "sentiment_label",
    "dropout_mentioned", "subreddit_id", "time_id",
]


@dataclass
class PipelineResult:
    raw_count: int
    snapshot_path: str | None
    fact_appended: int
    heatmap: DataFrame
    insights: DataFrame
    top_year: DataFrame
    top_subreddit: DataFrame


def extract(spark: SparkSession, keys: list[str], terms: list[str], fetcher: str, limit: int = 1000) -> DataFrame:
    """Stage 1 — distributed paged-API scan + cross-query dedup."""
    from ..sources.python_datasource import PagedApiDataSource

    spark.dataSource.register(PagedApiDataSource)
    raw = (
        spark.read.format("paged_api")
        .option("keys", ",".join(keys))
        .option("terms", ",".join(terms))
        .option("fetcher", fetcher)
        .option("limit", str(limit))
        .load()
    )
    return raw.dropDuplicates(["id"])


def transform(posts: DataFrame) -> DataFrame:
    """Stage 3 — the reference's five derived columns, all native
    expressions (etl_pipeline.py:73-81): no Python in the plan."""
    score = sentiment_score(clean_text(F.col("content")))
    return posts.select(
        "id",
        "content",
        "date",
        "url",
        "subreddit",
        clean_text(F.col("content")).alias("clean_content"),
        F.round(score, 6).alias("sentiment"),
        sentiment_label(score).alias("sentiment_label"),
        dropout_mentioned(F.col("content")).alias("dropout_mentioned"),
        F.year("date").cast("int").alias("year"),
    )


def upsert_star(
    enriched: DataFrame,
    read_dim: Callable[[str], DataFrame | None],
    write_dim: Callable[[str, DataFrame, DataFrame], DataFrame],
    prior_facts: DataFrame | None,
    write_facts: Callable[[DataFrame], None],
) -> int:
    """The star load with INSERT IGNORE semantics (etl_pipeline.py:94-127):
    upsert each dim (existing surrogate keys kept, new natural keys
    numbered after the max), swap natural keys for surrogates by
    broadcast join, and append the facts whose id is not in
    ``prior_facts``. Returns facts appended.

    The caller says where tables live: ``read_dim(table)`` is the dim
    before this load (None when there is none yet);
    ``write_dim(table, dim, new_rows)`` stores ``dim`` ∪ ``new_rows``
    and returns the stored dim, which the key swap reads;
    ``write_facts`` stores the fact rows to append.
    """
    spark = enriched.sparkSession
    specs = []
    for table, col, key, surrogate, key_type in _DIMS:
        dim = read_dim(table)
        if dim is None:
            dim = spark.createDataFrame([], f"{surrogate} int, {key} {key_type}")
        new_rows = new_dim_rows(dim, enriched.select(F.col(col).alias(key)), key, surrogate)
        specs.append((write_dim(table, dim, new_rows), col, key, surrogate))
    fact = build_fact(enriched, specs, _FACT_COLS)
    if prior_facts is None:
        prior_facts = fact.filter(F.lit(False))
    return idempotent_append(fact, prior_facts, ["id"], write_facts)


def load_star(spark: SparkSession, enriched: DataFrame, warehouse_dir: str) -> int:
    """Stage 4 — ``upsert_star`` into the flat warehouse: each dim
    directory gets only its new rows appended (Spark cannot overwrite a
    path its plan reads), facts are appended to ``fact_post``. Returns
    facts appended."""

    def append_dim(table: str, dim: DataFrame, new_rows: DataFrame) -> DataFrame:
        path = f"{warehouse_dir}/{table}"
        new_rows.write.mode("append").parquet(path)
        return spark.read.parquet(path)

    fact_path = f"{warehouse_dir}/fact_post"
    return upsert_star(
        enriched,
        lambda table: read_parquet_or_none(spark, f"{warehouse_dir}/{table}"),
        append_dim,
        read_parquet_or_none(spark, fact_path),
        lambda df: df.write.mode("append").parquet(fact_path),
    )


def read_star(spark: SparkSession, warehouse_dir: str, dim_path: Callable[[str], str]) -> DataFrame:
    """The 3-way join read-back (etl_pipeline.py:144-150), broadcast dims
    instead of a server-side join; ``dim_path`` maps a dim directory to
    the path holding its current rows."""
    star = spark.read.parquet(f"{warehouse_dir}/fact_post")
    for table, _, _, surrogate, _ in _DIMS:
        dim = spark.read.parquet(dim_path(f"{warehouse_dir}/{table}"))
        star = star.join(F.broadcast(dim), surrogate)
    return star.select(
        "id",
        "content",
        "sentiment",
        "sentiment_label",
        "dropout_mentioned",
        *[F.col(key).alias(col) for _, col, key, _, _ in _DIMS],
    )


def query_star(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Stage 5 — ``read_star`` over the flat warehouse."""
    return read_star(spark, warehouse_dir, lambda path: path)


def run_pipeline(
    spark: SparkSession,
    keys: list[str],
    terms: list[str],
    warehouse_dir: str,
    snapshot_dir: str | None = None,
    fetcher: str = "praw_etl_student_dropout_spark.sources.fake_api:fetch_page",
) -> PipelineResult:
    """The whole reference script, one call."""
    raw = extract(spark, keys, terms, fetcher)
    raw_count = raw.count()
    snap = csv_snapshot(raw, snapshot_dir) if snapshot_dir else None
    enriched = transform(raw)
    n_appended = load_star(spark, enriched, warehouse_dir)
    viz = query_star(spark, warehouse_dir)
    heatmap = pivot_count(
        viz.select("subreddit", "sentiment_label"),
        row_key="subreddit",
        pivot_key="sentiment_label",
        pivot_values=["positive", "negative", "neutral"],
    )
    insights = insight_summary(
        viz, "sentiment_label", "dropout_mentioned", "year", "subreddit"
    )
    return PipelineResult(
        raw_count=raw_count,
        snapshot_path=snap,
        fact_appended=n_appended,
        heatmap=heatmap,
        insights=insights,
        top_year=mode_of(viz, "year"),
        top_subreddit=mode_of(viz, "subreddit"),
    )
