"""End-to-end parity test: the whole reference script (extract →
snapshot → transform → star load → query → insights) as one engine flow,
including the incremental re-run property the reference relied on."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.plans.reference_pipeline import query_star, run_pipeline

KEYS = ["college", "gradschool"]
TERMS = ["dropout", "quit school", "stress"]


def test_full_pipeline_first_run(spark, tmp_path):
    res = run_pipeline(
        spark, KEYS, TERMS, str(tmp_path / "wh"), snapshot_dir=str(tmp_path / "snap")
    )
    assert res.raw_count > 0
    assert res.snapshot_path is not None
    # first run: every deduped post lands in the fact table
    assert res.fact_appended == res.raw_count
    heat = res.heatmap.collect()
    assert {r.subreddit for r in heat} == set(KEYS)
    # pivot columns fixed by the explicit value list
    assert res.heatmap.columns == ["subreddit", "positive", "negative", "neutral"]
    # heatmap counts cover every fact row exactly once
    total = sum(r.positive + r.negative + r.neutral for r in heat)
    assert total == res.raw_count
    ins = res.insights.first()
    assert ins.total_rows == res.raw_count
    assert 0.0 <= ins.neutral_pct <= 100.0
    assert res.top_year.first().year == 2025
    assert res.top_subreddit.first().subreddit in KEYS


def test_full_pipeline_rerun_is_incremental(spark, tmp_path):
    wh = str(tmp_path / "wh")
    first = run_pipeline(spark, KEYS, TERMS, wh)
    # materialize before the re-run: results are lazy views over the
    # warehouse that run 2 appends to
    first_heat = {tuple(r) for r in first.heatmap.collect()}
    second = run_pipeline(spark, KEYS, TERMS, wh)
    # INSERT IGNORE parity: the re-run appends nothing, the warehouse
    # doesn't grow, and the analytics are unchanged
    assert second.fact_appended == 0
    fact = spark.read.parquet(f"{wh}/fact_post")
    assert fact.count() == first.raw_count
    assert {tuple(r) for r in second.heatmap.collect()} == first_heat


def test_pipeline_fact_has_no_orphan_keys(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_pipeline(spark, KEYS, TERMS, wh)
    fact = spark.read.parquet(f"{wh}/fact_post")
    dim_sub = spark.read.parquet(f"{wh}/dim_subreddit")
    dim_time = spark.read.parquet(f"{wh}/dim_time")
    # referential integrity: every surrogate key resolves
    assert fact.join(dim_sub, "subreddit_id", "left_anti").count() == 0
    assert fact.join(dim_time, "time_id", "left_anti").count() == 0
    assert fact.filter(F.col("subreddit_id").isNull() | F.col("time_id").isNull()).count() == 0


def test_rerun_with_other_keys_keeps_surrogate_keys(spark, tmp_path):
    """The reference re-ran on a cadence and INSERT IGNORE kept dim keys
    stable: a re-run whose key set differs must neither renumber the
    earlier subreddits nor file earlier facts under another one."""
    wh = str(tmp_path / "wh")

    def dim_sub() -> dict[str, int]:
        rows = spark.read.parquet(f"{wh}/dim_subreddit").collect()
        assert len(rows) == len({r.name for r in rows})  # one row per name
        return {r.name: r.subreddit_id for r in rows}

    run_pipeline(spark, KEYS, TERMS, wh)
    first = dim_sub()
    run_pipeline(spark, ["gradschool", "highschool"], TERMS, wh)
    after = dim_sub()
    assert set(after) == {"college", "gradschool", "highschool"}
    assert {k: after[k] for k in first} == first
    rows = query_star(spark, wh).select("id", "subreddit").collect()
    # fake_api ids are f"{key}_{i}": each post reads back under its key
    assert {r.subreddit for r in rows} == set(after)
    assert all(r.id.rsplit("_", 1)[0] == r.subreddit for r in rows)


def test_unreadable_fact_table_fails_the_load(spark, tmp_path):
    """Only a missing fact table means "first run": a damaged one must
    fail the run, not be read as empty and have every post re-appended."""
    wh = str(tmp_path / "wh")
    run_pipeline(spark, KEYS[:1], TERMS[:1], wh)
    fact_dir = f"{wh}/fact_post"
    parts = sorted(f for f in os.listdir(fact_dir) if f.endswith(".parquet"))
    for f in parts:  # a garbage footer, its checksum sidecar gone with it
        with open(os.path.join(fact_dir, f), "wb") as fh:
            fh.write(b"garbage")
        os.remove(os.path.join(fact_dir, f".{f}.crc"))
    with pytest.raises(Exception, match="not a Parquet file"):
        run_pipeline(spark, KEYS[:1], TERMS[:1], wh)
    assert sorted(f for f in os.listdir(fact_dir) if f.endswith(".parquet")) == parts
