"""The two workloads: what one pass runs, its warm-up, and its checks.

``queries`` runs catalog builders, each materialized to the ``noop``
sink, in a seeded order. Two groups share a pass:

- ``floor``: headline slots on the seeded star tables (~0.01 scale
  factor), where DataFrame construction in the Python process and per-job
  scheduling dominate;
- ``text``: Zipf-corpus text/LLM slots, where executor compute
  dominates and build time is a small share.

``etl`` runs the reference pipeline in its own incremental cadence. A
pass is one tick: the batch path (``reference_pipeline.run_pipeline``
over the seeded paged API, then the heatmap, insights and top-1
read-backs) and the streaming path (the same posts landed as one file,
drained by ``incremental_reference_stream``, read back through
``query_star_incremental``). Each tick queries the same 2 keys x 2
terms, as the reference re-ran one query matrix; half of each query's
posts are new and half were served the tick before.

``etl_rotating_keys`` is not a benchmark workload: it is ``etl`` with a
key window that moves each tick, the cadence on which the batch path is
known to fail at this commit, and the self-test runs it to show that
the failure is still caught.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass

from . import inputs
from .trace import Tracer

FLOOR = [
    "flagship_star_pivot",
    "q21_waiting_supplier",
    "j7_dpp_busiest_year",
    "u5_grouped_udaf",
]
TEXT = [
    "d3_exact_dedup",
    "u6_quality_score",
]
FETCHER = "perfbench.posts:fetch_page"
REL_TOL = 1e-9


@dataclass
class Op:
    name: str
    fn: Callable[[object], None]


def _close(a: list[tuple], b: list[tuple]) -> bool:
    """Canonical row lists equal, floats to ``REL_TOL`` (summation order
    may differ between engines in the last bits)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if x[0] == y[0] == "f" and "nan" not in (x[1], y[1]):
                if math.isclose(x[1], y[1], rel_tol=REL_TOL, abs_tol=REL_TOL):
                    continue
            return False
    return True


def _reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Queries:
    name = "queries"
    # the JIT keeps speeding passes up for several passes: with fewer
    # untimed warm-up passes, the measured ones were often still on that
    # slope, and how far down it they were split runs apart
    warmup_passes = 2
    min_warm_passes = 3
    # after the measured passes, one untimed pass collects the rows the
    # check compares, in the state the measured passes left the engine
    check_pass = True
    generated_bytes = 0

    def __init__(self, work: str, run_dir: str, seed: int, tracer: Tracer, star_scale: float = 1.0) -> None:
        import random

        self.tracer = tracer
        self.star = inputs.star_tables(work, seed, star_scale)
        self.corpus = inputs.zipf_corpus(work, seed, inputs.CORPUS_SHARE * star_scale)
        slots = [(n, self.star, "floor") for n in FLOOR] + [(n, self.corpus, "text") for n in TEXT]
        random.Random(seed).shuffle(slots)
        self.slots = slots
        self.group = {n: g for n, _, g in slots}
        self.results: dict[str, tuple[list, list[str]]] = {}

    def warm(self, spark) -> None:
        """Table and schema warm-up. Scratch layouts (j7's partitioned
        orders copy) are left to the cold pass, which builds them lazily."""
        from praw_etl_student_dropout_spark.sources.readers import load_tables

        load_tables(spark, self.star, inputs.STAR_TABLES)
        load_tables(spark, self.corpus, ["documents", "embeddings"])

    def before_pass(self, spark, n: int) -> None:
        pass

    def ops(self, n: int, kind: str) -> list[Op]:
        from praw_etl_student_dropout_spark.plans import catalog_all

        registry = catalog_all()
        keep = kind == "check"
        return [Op(name, self._runner(registry[name].builder, name, d, keep)) for name, d, _ in self.slots]

    def _runner(self, builder, name: str, data_dir: str, keep: bool):
        """Build the slot and materialize it: to the ``noop`` sink, or,
        in the check pass, by collecting the rows the check compares."""
        from praw_etl_student_dropout_spark.plans.cache_registry import release_session_caches

        def run(spark) -> None:
            df = self.tracer.call(name, "plans", builder, spark, data_dir)
            if keep:
                self.results[name] = (self.tracer.call("collect", "spark", df.collect), df.columns)
            else:
                self.tracer.call("noop", "spark", df.write.format("noop").mode("overwrite").save)
            release_session_caches()

        return run

    def after_pass(self, spark, n: int) -> dict[str, bool]:
        return {}

    def check(self, spark, corrupt: bool = False) -> dict[str, bool]:
        """Each slot's check-pass rows against its DuckDB oracle, in the
        canonical order-insensitive form of ``tools/check_oracle.py``."""
        import duckdb

        from praw_etl_student_dropout_spark.plans import catalog_all
        from tools.check_oracle import normalize

        registry = catalog_all()
        cons = {}
        for d, tables in ((self.star, inputs.STAR_TABLES), (self.corpus, ["documents", "embeddings"])):
            con = cons[d] = duckdb.connect()
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        ok = {}
        try:
            for name, d, _ in self.slots:
                if name not in self.results:  # the check pass raised for it
                    ok[name] = False
                    continue
                rows, cols = self.results[name]
                got = normalize([tuple(r) for r in rows], cols, naive_is_local=True)
                res = cons[d].sql(registry[name].oracle)
                want = normalize(res.fetchall(), res.columns)
                if corrupt:  # one row short, or one too many when empty
                    want = want[1:] if want else [()]
                ok[name] = _close(got, want)
                if not ok[name]:
                    print(f"# check FAILED: {name}", file=sys.stderr)
        finally:
            for con in cons.values():
                con.close()
        return ok


class Etl:
    name = "etl"
    rotating_keys = False
    warmup_passes = 0
    min_warm_passes = 1
    # a tick changes the warehouses, so there is no pass to repeat
    check_pass = False

    def __init__(self, work: str, run_dir: str, seed: int, tracer: Tracer, star_scale: float = 1.0) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.results: dict = {}
        # id -> subreddit of every post served so far
        self.served: dict[str, str] = {}
        self.generated_bytes = 0

    def _paths(self) -> dict[str, str]:
        base = os.path.join(self.run_dir, "etl")
        return {k: os.path.join(base, k) for k in ("wh_batch", "wh_stream", "ckpt", "posts", "snap")}

    def warm(self, spark) -> None:
        """A fresh, empty warehouse for each set-up."""
        from praw_etl_student_dropout_spark.sources.python_datasource import PagedApiDataSource

        for p in self._paths().values():
            _reset_dir(p)
        self.served = {}
        spark.dataSource.register(PagedApiDataSource)

    def before_pass(self, spark, n: int) -> None:
        from .posts import set_clock

        set_clock(n)
        rows = inputs.tick_posts(self.seed, n, self.rotating_keys)
        self.served.update((r["id"], r["subreddit"]) for r in rows)
        self.generated_bytes = inputs.write_posts_file(rows, os.path.join(self._paths()["posts"], f"tick{n:03d}"))

    def ops(self, n: int, kind: str) -> list[Op]:
        from praw_etl_student_dropout_spark.plans import reference_pipeline as rp
        from praw_etl_student_dropout_spark.streaming import incremental_reference as ir

        paths = self._paths()
        keys = inputs.query_keys(self.seed, n, self.rotating_keys)

        def batch(spark) -> None:
            res = rp.run_pipeline(spark, keys, inputs.QUERY_TERMS, paths["wh_batch"],
                                  snapshot_dir=paths["snap"], fetcher=FETCHER)
            self.results["heatmap"] = [r.asDict() for r in res.heatmap.collect()]
            for read_back in (res.insights, res.top_year, res.top_subreddit):
                read_back.collect()

        def stream(spark) -> None:
            ir.incremental_reference_stream(spark, paths["posts"] + "/*", paths["wh_stream"], paths["ckpt"])
            self.results["stream"] = ir.query_star_incremental(spark, paths["wh_stream"]).collect()

        return [Op("batch_tick", batch), Op("stream_tick", stream)]

    def after_pass(self, spark, n: int) -> dict[str, bool]:
        """Per tick: the warehouse holds exactly the distinct ids served
        so far, once each, and the heatmap covers every fact row."""
        fact_ids = [r.id for r in spark.read.parquet(self._paths()["wh_batch"] + "/fact_post").select("id").collect()]
        heat_total = sum(v or 0 for r in self.results.get("heatmap", []) for k, v in r.items() if k != "subreddit")
        stream_ids = [r.id for r in self.results.get("stream", [])]
        ok = {
            "batch_tick": (len(fact_ids) == len(set(fact_ids)) and set(fact_ids) == set(self.served)
                           and heat_total == len(fact_ids)),
            "stream_tick": len(stream_ids) == len(set(stream_ids)) and set(stream_ids) == set(self.served),
        }
        for name, good in ok.items():
            if not good:
                print(f"# check FAILED: {name} at tick {n}", file=sys.stderr)
        return ok

    @staticmethod
    def _misfiled(what: str, rows: list, served: dict[str, str]) -> int:
        """Read-back rows whose subreddit is not the one their post was
        served under."""
        bad = [(r.id, r.subreddit) for r in rows if served.get(r.id) != r.subreddit]
        if bad:
            print(f"# {what}: {len(bad)} of {len(rows)} rows read back under another subreddit, "
                  f"e.g. {bad[:3]}", file=sys.stderr)
        return len(bad)

    def check(self, spark, corrupt: bool = False) -> dict[str, bool]:
        """Per run: a DuckDB heatmap over the warehouse parquet equals
        Spark's; each path's read-back files every post under the
        subreddit it was served under; and the stream's read-back equals
        the batch read-back. A disagreement between the two paths counts
        against the stream only when the batch read-back is right."""
        import duckdb

        from praw_etl_student_dropout_spark.plans.reference_pipeline import query_star

        wh = self._paths()["wh_batch"]
        con = duckdb.connect()
        try:
            duck = con.sql(f"""
                SELECT d.name AS subreddit,
                       count(*) FILTER (WHERE f.sentiment_label = 'positive') AS positive,
                       count(*) FILTER (WHERE f.sentiment_label = 'negative') AS negative,
                       count(*) FILTER (WHERE f.sentiment_label = 'neutral') AS neutral
                FROM read_parquet('{wh}/fact_post/*.parquet') f
                JOIN read_parquet('{wh}/dim_subreddit/*.parquet') d USING (subreddit_id)
                GROUP BY 1""").fetchall()
        finally:
            con.close()
        spark_heat = sorted(
            (r["subreddit"], r.get("positive") or 0, r.get("negative") or 0, r.get("neutral") or 0)
            for r in self.results["heatmap"]
        )
        served = dict(self.served)
        if corrupt:
            first = min(served)
            served[first] += "_corrupted"
        batch = query_star(spark, wh).collect()
        stream = self.results["stream"]
        batch_right = self._misfiled("batch read-back", batch, served) == 0
        stream_right = self._misfiled("stream read-back", stream, served) == 0
        batch_rows, stream_rows = {tuple(r) for r in batch}, {tuple(r) for r in stream}
        if stream_rows != batch_rows:
            print(f"# stream-only rows {sorted(stream_rows - batch_rows)[:3]}; "
                  f"batch-only rows {sorted(batch_rows - stream_rows)[:3]}", file=sys.stderr)
        ok = {
            "batch_tick": spark_heat == sorted(duck) and batch_right,
            "stream_tick": stream_right and (stream_rows == batch_rows or not batch_right),
        }
        for name, good in ok.items():
            if not good:
                print(f"# check FAILED: {name} (run)", file=sys.stderr)
        return ok


class EtlRotatingKeys(Etl):
    """Half the keys new each tick: ``reference_pipeline.load_star``
    rebuilds ``dim_subreddit`` from the current tick's posts by
    ``dense_rank`` and overwrites it, so facts of earlier ticks read back
    under another subreddit. Fails its checks until ``load_star`` upserts
    its dims."""

    name = "etl_rotating_keys"
    rotating_keys = True


WORKLOADS = {"queries": Queries, "etl": Etl, "etl_rotating_keys": EtlRotatingKeys}
