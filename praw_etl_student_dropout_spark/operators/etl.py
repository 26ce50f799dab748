"""Star-schema ETL operators (SURVEY.md §2.3 J2/J3, §3.2).

Re-expresses the reference's Load stage (etl_pipeline.py:94-127) — per-key
INSERT IGNORE + SELECT-back + iterrows key swap — as three distributed
operators: dimension build (distinct + deterministic surrogate keys),
incremental dimension rows (anti-join, keys numbered after the existing
ones), and fact build (broadcast-join key swap). No driver-side loops;
the N+1 per-key round-trip pattern becomes one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_dim(df: DataFrame, natural_key: str, surrogate_name: str) -> DataFrame:
    """Build a dimension from the distinct values of ``natural_key``.

    Surrogate keys are ``dense_rank`` over the natural key order —
    deterministic and reproducible (MySQL AUTO_INCREMENT order in the
    reference depends on arrival order; a distributed engine needs the
    ordering explicit). A single window over the distinct set is cheap:
    dims are tiny by definition.
    """
    w = Window.orderBy(F.col(natural_key))
    return (
        df.select(natural_key)
        .distinct()
        .withColumn(surrogate_name, F.dense_rank().over(w).cast("int"))
        .select(surrogate_name, natural_key)
    )


def new_dim_rows(existing: DataFrame, incoming: DataFrame, natural_key: str, surrogate_name: str) -> DataFrame:
    """The rows an incremental dimension load adds (INSERT IGNORE,
    etl_pipeline.py:97,106): natural keys of ``incoming`` absent from
    ``existing``, numbered after max(existing) in natural-key order.
    Existing rows keep their surrogate keys, so the upserted dimension
    is ``existing`` ∪ these rows.
    """
    new_keys = incoming.select(natural_key).distinct().join(
        existing.select(natural_key), on=natural_key, how="left_anti"
    )
    max_key = existing.agg(F.coalesce(F.max(surrogate_name), F.lit(0)).alias("m"))
    w = Window.orderBy(F.col(natural_key))
    return (
        new_keys.withColumn("__rk", F.dense_rank().over(w))
        .crossJoin(F.broadcast(max_key))
        .withColumn(surrogate_name, (F.col("__rk") + F.col("m")).cast("int"))
        .select(surrogate_name, natural_key)
    )


def build_fact(
    facts: DataFrame,
    dim_specs: list[tuple[DataFrame, str, str, str]],
    select_cols: list[str],
) -> DataFrame:
    """Fact build via broadcast-join key swap (replaces iterrows + dict
    lookups, etl_pipeline.py:112-119).

    ``dim_specs``: (dim_df, fact_natural_col, dim_natural_col,
    surrogate_col). Each dim is broadcast; the fact side is scanned once
    and never shuffled.
    """
    out = facts
    for dim, fact_col, dim_col, surrogate in dim_specs:
        d = dim.select(F.col(dim_col).alias(f"__nk_{surrogate}"), F.col(surrogate))
        out = out.join(F.broadcast(d), out[fact_col] == F.col(f"__nk_{surrogate}"), "left").drop(
            f"__nk_{surrogate}"
        )
    return out.select(*select_cols)


def changelog_compact(
    log,
    key: str,
    order: list[str],
    op_col: str = "op",
):
    """Net-effect compaction of a CDC changelog: one row per key.

    For a change stream (key, op ∈ {I,U,D}, payload, total order), the
    net effect replayed downstream is:

    - first=I, last=D  → key never existed for the consumer: DROPPED
    - last=D           → net ``D`` (key deleted)
    - first=I          → net ``I`` carrying the LAST payload
    - otherwise        → net ``U`` carrying the LAST payload

    One shuffle on the key; first/last rows come from min_by/max_by
    against the order-columns struct, so each column crosses the wire
    once and no per-key history is buffered. EVERY non-key, non-op
    column rides in the carried struct — the emitted I/U rows carry the
    last row's whole payload, not just the order columns, so a generic
    CDC caller's value columns survive; because only the ORDER columns
    participate in comparison (min_by/max_by key), payload columns may
    be any type, including non-orderable ones like maps. This is what
    keeps a replicated table's apply cost proportional to DISTINCT keys
    touched, not events received — the log compaction every changelog
    consumer (Kafka compacted topics, Debezium sinks, lakehouse MERGE
    batching) performs before apply.

    Ordering contract: ``order`` SHOULD be a total order per key (a CDC
    log's sequence number / LSN is). If it is not, an explicit op RANK
    (I=0, U=1, D=2, anything else=3) is appended as a deterministic
    tiebreak — min_by/max_by would otherwise pick an arbitrary tied row,
    nondeterministically flipping ``net_op`` across runs/partitionings.
    The chosen tie semantic is the key lifecycle order: rows tied at the
    same position replay as I before U before D, so the FIRST of a tie
    prefers the insert and the LAST prefers the delete. Consequences:
    D⊕U tied at the end nets D (a tied delete is never silently lost —
    tombstone-conservative), and I⊕D tied as a key's whole history
    collapses to "never existed". Unknown ops rank after D so a malformed
    feed can't shadow a real delete. Rows that tie on BOTH order and op
    are true duplicates from the log's point of view; which one's payload
    is carried is unspecified — callers whose payloads differ at
    identical (order, op) must extend ``order`` with an ingest id.
    """
    from pyspark.sql import functions as F

    payload = [c for c in log.columns if c not in (key, op_col) and c not in order]
    op_rank = (
        F.when(F.col(op_col) == "I", 0)
        .when(F.col(op_col) == "U", 1)
        .when(F.col(op_col) == "D", 2)
        .otherwise(3)
    )
    order_key = F.struct(*[F.col(c) for c in order], op_rank.alias("__op_rank"))
    carried = F.struct(
        F.col(op_col).alias("__op"),
        *[F.col(c) for c in order + payload],
    )
    per_key = log.groupBy(key).agg(
        F.min_by(F.col(op_col), order_key).alias("__first_op"),
        F.max_by(carried, order_key).alias("__last"),
    )
    first_op = F.col("__first_op")
    last_op = F.col("__last.__op")
    net = (
        F.when((first_op == "I") & (last_op == "D"), F.lit(None))
        .when(last_op == "D", F.lit("D"))
        .when(first_op == "I", F.lit("I"))
        .otherwise(F.lit("U"))
    )
    return (
        per_key.withColumn("net_op", net)
        .filter(F.col("net_op").isNotNull())
        .select(
            key,
            "net_op",
            *[F.col(f"__last.{c}").alias(c) for c in order + payload],
        )
    )


def snapshot_asof(log, key: str, order: list[str], op_col: str = "op"):
    """Point-in-time state reconstruction from a CDC changelog — the
    time-travel read every lakehouse exposes (Delta/Iceberg
    ``VERSION AS OF``), expressed over a raw change stream: the caller
    pre-filters the log to rows at-or-before the as-of cut, and the
    state is, per key, the LAST row in ``order`` — present with that
    row's full payload unless the last op is a delete.

    Same single-shuffle shape and ordering contract as
    :func:`changelog_compact` (one ``max_by`` against the order-columns
    struct; payload columns ride the carried struct and may be any
    type): where compaction answers "what do I REPLAY downstream",
    the snapshot answers "what does the table CONTAIN at T" — a key
    whose history is I…D is dropped by both, but a key seen only as U
    is emitted here (it exists at T) while compaction nets it U for the
    replayer. Ties at identical ``order`` positions resolve with the
    same op rank (I<U<D): a tied delete wins, so the snapshot is
    tombstone-conservative.
    """
    from pyspark.sql import functions as F

    payload = [c for c in log.columns if c not in (key, op_col) and c not in order]
    op_rank = (
        F.when(F.col(op_col) == "I", 0)
        .when(F.col(op_col) == "U", 1)
        .when(F.col(op_col) == "D", 2)
        .otherwise(3)
    )
    order_key = F.struct(*[F.col(c) for c in order], op_rank.alias("__op_rank"))
    carried = F.struct(
        F.col(op_col).alias("__op"),
        *[F.col(c) for c in order + payload],
    )
    last = log.groupBy(key).agg(F.max_by(carried, order_key).alias("__last"))
    return last.filter(F.col("__last.__op") != "D").select(
        key, *[F.col(f"__last.{c}").alias(c) for c in order + payload]
    )


def snapshot_merge_delta(
    snapshot, delta_log, key: str, order: list[str], op_col: str = "op"
):
    """Advance a materialized :func:`snapshot_asof` state from T0 to T1
    by folding ONLY the (T0, T1] changelog delta — the maintenance half
    of the time-travel read (the lakehouse MERGE a snapshot refresh
    compiles to; same incremental contract as the q21 MV delta refresh).

    ``snapshot`` holds the state AS OF T0 (key + order + payload
    columns, no op — exactly :func:`snapshot_asof`'s output);
    ``delta_log`` holds raw change rows STRICTLY after T0 and
    at-or-before T1, same columns as the original log. Per key the
    delta's last row (by ``order``, ties by the I<U<D op rank —
    tombstone-conservative, same contract as :func:`snapshot_asof`)
    decides: a trailing delete drops the key, any other op's payload
    replaces (or inserts) the state row, and keys untouched by the
    delta pass through byte-identical. No order comparison against the
    T0 row is needed: every delta row is strictly later, so the
    delta's last row always wins — which is what makes the fold a
    plain full-outer merge instead of a re-sort of history.

    Scale shape: one key shuffle of the DELTA (max_by partials — cost
    proportional to rows changed, not table size) + one join against
    the snapshot; with the snapshot bucketed by key the join is
    exchange-free on the snapshot side. Equivalence
    ``merge(snapshot(T0), delta) == snapshot(T1)`` is pinned in
    tests/test_sinks_etl.py and graded against the full AS-OF oracle
    at T1 (etl_snapshot_refresh).
    """
    from pyspark.sql import functions as F

    payload = [
        c for c in delta_log.columns if c not in (key, op_col) and c not in order
    ]
    cols = order + payload
    missing = [c for c in cols if c not in snapshot.columns]
    if missing:
        raise ValueError(f"snapshot is missing delta columns: {missing}")
    op_rank = (
        F.when(F.col(op_col) == "I", 0)
        .when(F.col(op_col) == "U", 1)
        .when(F.col(op_col) == "D", 2)
        .otherwise(3)
    )
    order_key = F.struct(*[F.col(c) for c in order], op_rank.alias("__op_rank"))
    carried = F.struct(
        F.col(op_col).alias("__op"), *[F.col(c) for c in cols]
    )
    last = delta_log.groupBy(key).agg(F.max_by(carried, order_key).alias("__d"))
    merged = snapshot.join(last, key, "full_outer")
    in_delta = F.col("__d").isNotNull()
    return merged.filter(
        ~(in_delta & (F.col("__d.__op") == "D"))
    ).select(
        key,
        *[
            F.when(in_delta, F.col(f"__d.{c}")).otherwise(F.col(c)).alias(c)
            for c in cols
        ],
    )


def scd2_history(log: DataFrame, key: str, type_col: str, order: list[str]) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each key's
    ``type_col`` history into ``[valid_from, valid_to)`` version
    intervals — change points via null-safe ``lag`` comparison, version
    ids via running sum, interval close via ``lead`` (the open current
    version keeps ``valid_to`` NULL). Everything partitions by ``key``:
    one shuffle serves both window passes and the group-by, and per-key
    state is one key's history, never the table. Extracted from the
    etl_scd2_dim entry in r14 so the same build serves the per-query
    plan AND the persisted-history layout the apply rung folds into.

    Returns ``(key, version, type_col, valid_from, valid_to, n_rows)``
    with ``valid_from`` taken from ``order[0]``.
    """
    w = Window.partitionBy(key).orderBy(*order)
    marked = log.select(
        key,
        type_col,
        *order,
        F.when(~F.col(type_col).eqNullSafe(F.lag(type_col).over(w)), 1)
        .otherwise(0)
        .alias("__chg"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = marked.select(
        key, type_col, *order, F.sum("__chg").over(cum).alias("version")
    )
    collapsed = versioned.groupBy(key, "version", type_col).agg(
        F.min(order[0]).alias("valid_from"), F.count(F.lit(1)).alias("n_rows")
    )
    wv = Window.partitionBy(key).orderBy("version")
    return collapsed.select(
        key,
        "version",
        type_col,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_rows",
    )


def scd2_apply(
    history: DataFrame,
    delta: DataFrame,
    key: str,
    type_col: str,
    order: list[str],
) -> DataFrame:
    """Advance a materialized :func:`scd2_history` from T0 to T1 by
    folding ONLY the (T0, T1] event delta — the SCD2 counterpart of
    :func:`snapshot_merge_delta`, closing the round-14 maintenance-rung
    set (MV pre-agg, CDC snapshot, IVF index, SCD2 history).

    Per delta key: the OPEN version (``valid_to`` NULL) seeds the
    change detection — the first delta row compares against the open
    version's ``type_col`` (null-safe, so a brand-new key opens version
    1 exactly like a fresh build), later rows against their ``lag``;
    version ids continue from the open version's number. Delta runs
    collapse per (key, version, type); the open version joins the
    collapse as a pseudo-row so a continuing run merges into it
    (``valid_from`` keeps the open row's, ``n_rows`` adds), and one
    per-key ``lead`` re-closes intervals. Keys untouched by the delta
    — every closed version AND untouched open versions — pass through
    WITHOUT a shuffle: the only exchanged data is the delta plus the
    touched open rows, so cost ∝ rows changed, never history size.
    No order comparison against closed history is needed: every delta
    row is strictly later than T0, so runs never interleave.

    Equivalence ``apply(history(T0), delta) == history(T1)`` is pinned
    in tests and graded against the full SCD2 oracle at T1
    (etl_scd2_apply).
    """
    open_rows = history.filter(F.col("valid_to").isNull())
    closed = history.filter(F.col("valid_to").isNotNull())
    d_keys = delta.select(key).distinct()
    # SF-proportional key set — no broadcast hint, AQE decides; with the
    # history bucketed by key both joins ride the layout distribution
    open_touched = open_rows.join(d_keys, key, "left_semi")
    open_untouched = open_rows.join(d_keys, key, "left_anti")
    seed = open_touched.select(
        key,
        F.col("version").alias("__v0"),
        F.col(type_col).alias("__t0"),
    )
    w = Window.partitionBy(key).orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dd = (
        delta.select(key, type_col, *order)
        .join(seed, key, "left")
        .select(
            key,
            type_col,
            *order,
            F.when(
                ~F.col(type_col).eqNullSafe(
                    F.coalesce(F.lag(type_col).over(w), F.col("__t0"))
                ),
                1,
            )
            .otherwise(0)
            .alias("__chg"),
            F.col("__v0"),
        )
        .select(
            key,
            type_col,
            *order,
            (F.coalesce(F.col("__v0"), F.lit(0)) + F.sum("__chg").over(cum)).alias(
                "version"
            ),
        )
    )
    dcol = dd.groupBy(key, "version", type_col).agg(
        F.min(order[0]).alias("valid_from"), F.count(F.lit(1)).alias("n_rows")
    )
    pseudo = open_touched.select(key, "version", type_col, "valid_from", "n_rows")
    merged = (
        pseudo.unionByName(dcol)
        .groupBy(key, "version", type_col)
        .agg(F.min("valid_from").alias("valid_from"), F.sum("n_rows").alias("n_rows"))
    )
    wv = Window.partitionBy(key).orderBy("version")
    re_closed = merged.select(
        key,
        "version",
        type_col,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_rows",
    )
    return closed.unionByName(open_untouched).unionByName(re_closed)
