"""Live JDBC round-trip through a REAL driver (embedded Apache Derby,
which ships in Spark's jars for the Hive metastore) — closes the one
reference boundary (MySQL at etl_pipeline.py:85-150) that parquet-backed
tests can't exercise: type mapping through JDBC, batched executemany
appends, pushed-down queries, and insert-if-absent idempotence against a
mutable SQL table.

Embedded Derby runs inside the same JVM, so local-mode executors reach
it without a server process — the portable stand-in for the reference's
MySQL instance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.sources.readers import load_tables, read_jdbc
from praw_etl_student_dropout_spark.sources.writers import (
    idempotent_append,
    write_jdbc_append,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def props():
    return {"driver": DERBY_DRIVER}


def test_jdbc_write_read_round_trip(spark, sf_dir, derby_url):
    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    write_jdbc_append(nation, derby_url, "nation_rt", properties=props())
    back = read_jdbc(spark, derby_url, "nation_rt", properties=props())
    assert sorted(back.columns) == sorted(nation.columns)
    want = {tuple(r) for r in nation.collect()}
    got = {tuple(r) for r in back.select(*nation.columns).collect()}
    assert got == want


def test_jdbc_pushed_down_query(spark, sf_dir, derby_url):
    """S5 — the reference's in-database aggregation (etl_pipeline.py:
    141-150): ship a query string, the database computes, Spark reads
    the result."""
    region = load_tables(spark, sf_dir, ["region"])["region"]
    write_jdbc_append(region, derby_url, "region_rt", properties=props())
    agg = read_jdbc(
        spark,
        derby_url,
        '(SELECT count(*) AS "n_regions" FROM region_rt) "t"',
        properties=props(),
    )
    assert agg.columns == ["n_regions"]  # quoted alias survives Derby's upcasing
    assert agg.collect()[0][0] == region.count()


def test_jdbc_partitioned_read(spark, sf_dir, derby_url):
    """Sharded JDBC scan: partitionColumn bounds split the read across
    tasks; union of shards must equal the whole table."""
    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    write_jdbc_append(nation, derby_url, "nation_part", properties=props())
    sharded = read_jdbc(
        spark,
        derby_url,
        "nation_part",
        properties=props(),
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
    )
    assert sharded.rdd.getNumPartitions() == 4
    assert sharded.count() == nation.count()
    assert sharded.agg(F.sum("n_nationkey")).collect()[0][0] == (
        nation.agg(F.sum("n_nationkey")).collect()[0][0]
    )


def test_jdbc_idempotent_append_converges(spark, sf_dir, derby_url):
    """S4/J3 — INSERT IGNORE semantics against a real mutable table
    (etl_pipeline.py:97,106,122): re-appending the same rows adds
    nothing; appending a superset adds exactly the delta."""
    region = load_tables(spark, sf_dir, ["region"])["region"]
    first3 = region.filter(F.col("r_regionkey") < 3)
    write_jdbc_append(first3, derby_url, "region_idem", properties=props())

    def sink(df):
        write_jdbc_append(df, derby_url, "region_idem", properties=props())

    def existing():
        return read_jdbc(spark, derby_url, "region_idem", properties=props())

    # replay the same 3 rows: nothing appended
    added = idempotent_append(first3, existing(), ["r_regionkey"], sink)
    assert added == 0
    assert existing().count() == 3
    # full table: only the 2 unseen rows land
    added = idempotent_append(region, existing(), ["r_regionkey"], sink)
    assert added == region.count() - 3
    assert existing().count() == region.count()
    # convergence: a third pass is a no-op
    added = idempotent_append(region, existing(), ["r_regionkey"], sink)
    assert added == 0
    assert {tuple(r) for r in existing().select(*region.columns).collect()} == {
        tuple(r) for r in region.collect()
    }


def _jdbc_type(spark, dialect, spark_type: str) -> str:
    """DDL type the given JDBC dialect emits for a Spark SQL type, or
    "(common default)" where the dialect defers to JdbcUtils."""
    jdt = spark._jsparkSession.sessionState().sqlParser().parseDataType(spark_type)
    opt = dialect.getJDBCType(jdt)
    return opt.get().databaseTypeDefinition() if opt.isDefined() else "(common default)"


def test_mysql_dialect_type_mapping_for_fact_post(spark):
    """VERDICT r7 #8: no MySQL-compatible SERVER exists in this container
    (probe stamped in SURVEY §9), but Spark ships the MySQL JDBC dialect
    in-JVM — so the reference's FactPost schema (etl_pipeline.py:121-126)
    can still be checked against the DDL types a MySQL sink would get,
    beyond the live-Derby round-trip above."""
    from praw_etl_student_dropout_spark.schemas import FACT_POST

    dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:mysql://host/db"
    )
    got = {
        f.name: _jdbc_type(spark, dialect, f.dataType.simpleString())
        for f in FACT_POST.fields
    }
    assert got == {
        "post_id": "LONGTEXT",
        "content": "LONGTEXT",
        "url": "LONGTEXT",
        "sentiment": "DOUBLE PRECISION",
        "dropout_mentioned": "BIT(1)",  # MySQL's BOOLEAN alias
        "subreddit_id": "INTEGER",
        "time_id": "INTEGER",
    }
    # Derby (the live round-trip driver) takes the common defaults for
    # the same schema — both dialects resolve from one registry, so this
    # pins that the MySQL overrides really are dialect-specific.
    derby = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:x")
    assert _jdbc_type(spark, derby, "boolean") == "BOOLEAN"
    assert _jdbc_type(spark, derby, "string") == "CLOB"
