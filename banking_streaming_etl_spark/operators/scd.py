"""Slowly-changing-dimension (SCD2) merge and streaming CDC upserts.

The reference treats its `usuarios` dimension as immutable per run
(SURVEY.md §1.1: "slowly-changing in principle"); a production engine
needs the change path. Without a transactional table format, MERGE INTO is
emulated with the standard composition (guide §OLAP patterns: "anti-join +
union + window"):

- `scd2_apply`: apply a batch of dimension updates to an SCD2 history
  table (valid_from / valid_to / is_current): close changed current rows,
  append new versions, keep everything else. Two broadcast-or-shuffle
  joins on the key; the history rewrite is partition-parallel.
- `CdcUpsertSink`: streaming foreachBatch last-write-wins upsert keyed on
  the record id, the JDBC-upsert analogue the reference deferred (PDF
  p. 8). Each micro-batch's per-key winners (max_by on event time) land
  in the epoch's own `batch_id=N` leaf through `sinks.write_epoch`, like
  every other foreachBatch sink; the read side folds the leaves with the
  same max_by, so a replayed epoch replaces its own leaf and a crash
  never touches a committed one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from banking_streaming_etl_spark.streaming.sinks import (
    _compact_epochs,
    _recover_compact,
    write_epoch,
)


def scd2_init(dim: DataFrame, valid_from) -> DataFrame:
    """Bootstrap an SCD2 history from a current dimension snapshot."""
    return dim.select(
        "*",
        F.lit(valid_from).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    effective_ts,
    compare_cols: list[str],
) -> DataFrame:
    """Apply `updates` (one row per key, new attribute values) at
    `effective_ts`. Rows whose compared attributes are unchanged are
    ignored; changed keys get their current row closed and a new current
    version appended; keys with no history row at all (new dimension
    members) are inserted as new current versions."""
    eff = F.lit(effective_ts).cast("timestamp")

    cur = history.filter(F.col("is_current"))
    closed = history.filter(~F.col("is_current"))

    # changed = updates whose attributes differ from the current row
    changed_cond = None
    for c in compare_cols:
        diff = ~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
        changed_cond = diff if changed_cond is None else (changed_cond | diff)
    changed_keys = (
        cur.alias("cur")
        .join(updates.alias("upd"), F.col(f"cur.{key}") == F.col(f"upd.{key}"))
        .filter(changed_cond)
        .select(F.col(f"cur.{key}").alias(key))
    )

    # close current rows of changed keys
    to_close = (
        cur.join(changed_keys, key, "left_semi")
        .withColumn("valid_to", eff)
        .withColumn("is_current", F.lit(False))
    )
    untouched_current = cur.join(changed_keys, key, "left_anti")

    # new current versions: changed keys AND brand-new keys (no history row)
    brand_new = updates.join(cur.select(key), key, "left_anti")
    new_rows = (
        updates.join(changed_keys, key, "left_semi")
        .unionByName(brand_new)
        .select(
            "*",
            eff.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    cols = history.columns
    return (
        closed.select(*cols)
        .unionByName(to_close.select(*cols))
        .unionByName(untouched_current.select(*cols))
        .unionByName(new_rows.select(*cols))
    )


SCD2_T0 = "2024-01-01 00:00:00"
SCD2_T1 = "2024-02-01 00:00:00"


def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked SCD2 fixture query: bootstrap history from the users
    dim at T0, apply a deterministic update batch (every 10th user's
    balance +500) at T1, return the merged history. The dim projection
    is pinned once per session (memo.shared_frame): scd2_apply's
    change-split branches (changed anti-join, unchanged semi-join,
    new-keys anti-join) all read it, not one dim scan each."""
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import memo

    users = memo.shared_frame(
        spark,
        sf_dir,
        "scd2_users",
        lambda: datamodel.users(spark, sf_dir).select(
            "id_usuario", "id_regiao_u", "saldo"
        ),
    )
    history = scd2_init(users, SCD2_T0)
    updates = users.withColumn(
        "saldo",
        F.when(
            F.col("id_usuario") % 10 == 0, F.col("saldo") + 500.0
        ).otherwise(F.col("saldo")),
    )
    return scd2_apply(
        history, updates, "id_usuario", SCD2_T1, compare_cols=["saldo"]
    )


def _scd2_oracle() -> str:
    from banking_streaming_etl_spark import datamodel

    return datamodel.with_ctes(
        f"""
SELECT id_usuario, id_regiao_u, saldo,
       TIMESTAMP '{SCD2_T0}' AS valid_from,
       TIMESTAMP '{SCD2_T1}' AS valid_to,
       FALSE AS is_current
FROM users WHERE id_usuario % 10 = 0
UNION ALL
SELECT id_usuario, id_regiao_u, saldo,
       TIMESTAMP '{SCD2_T0}', NULL, TRUE
FROM users WHERE id_usuario % 10 <> 0
UNION ALL
SELECT id_usuario, id_regiao_u, saldo + 500.0,
       TIMESTAMP '{SCD2_T1}', NULL, TRUE
FROM users WHERE id_usuario % 10 = 0"""
    )


class CdcUpsertSink:
    """Streaming last-write-wins upsert, epoch-keyed.

    Each micro-batch reduces to one row per key (latest by `ts_col`,
    then `tiebreak`) and lands those winners as its own `batch_id=N`
    leaf through `sinks.write_epoch`; no earlier epoch's leaf is
    touched, so a crash mid-write can lose nothing that committed, and a
    replayed epoch replaces its own leaf. `read()` folds every leaf with
    the same event-time `max_by` — the `MaterializedAggregateView`
    pattern with a last-write-wins merge instead of a sum: a late,
    OLDER event never beats a newer one from an earlier epoch.
    `compact()` folds the leaves into one through the shared crash-safe
    swap.

    Pass a unique `tiebreak` column for deterministic winners — the
    default (ts_col itself) leaves ties on (key, ts) to partition order."""

    def __init__(
        self, out_dir: str, key: str, ts_col: str, tiebreak: str | None = None
    ):
        self.out_dir = out_dir
        self.key = key
        self.ts_col = ts_col
        self.tiebreak = tiebreak or ts_col

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        return (
            df.groupBy(self.key)
            .agg(
                F.max_by(
                    F.struct("*"), F.struct(self.ts_col, self.tiebreak)
                ).alias("r")
            )
            .select("r.*")
        )

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        _recover_compact(self.out_dir)
        write_epoch(self._latest_per_key(batch_df), self.out_dir, epoch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        """The current snapshot: one row per key."""
        _recover_compact(self.out_dir)
        return self._latest_per_key(
            spark.read.parquet(self.out_dir).drop("batch_id")
        )

    def compact(self, spark: SparkSession) -> None:
        """Fold every leaf into one `batch_id=-1` leaf. Same operational
        constraint as `MaterializedAggregateView.compact`: run only while
        the stream is stopped at a committed checkpoint."""
        _compact_epochs(self.read(spark), self.out_dir)


# --- point-in-time feature join against the SCD2 dimension -------------------

#: mid-window update time for the PIT fixture (scd2_user_history's T1 is
#: after the 30-day event window, which would make every transaction see
#: version 1 — a vacuous join; the PIT fixture updates mid-month so both
#: versions are actually active for different transactions).
PIT_T1 = "2024-01-16 00:00:00"


def pit_balance_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join: each transaction gets the
    payer's balance FROM THE DIMENSION VERSION VALID AT EVENT TIME — the
    anti-leakage join a training pipeline must use when labels/events
    join slowly-changing features (joining today's dimension onto last
    month's events leaks the future into training data; Feast/feature-
    store "point-in-time join").

    Scale shape: the naive formulation is an inequality join
    (valid_from <= ts < valid_to) — a nested loop at scale. This uses
    the as-of union trick (operators/asof.asof_balance_at_tx): version
    STARTS become state-change events, one (user)-keyed union + window
    picks the last version at or before each transaction — a single
    shuffle, no inequality join anywhere. Correct because SCD2 versions
    per key are contiguous (each valid_to equals the next valid_from),
    so "latest start <= ts" IS the active version.

    The SCD2 history is pinned once per session (memo.shared_frame), so
    scd2_apply's change-split branches scan the users dim once. It is
    dim-sized, bounded at any corpus scale."""
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import memo

    def _history() -> DataFrame:
        users = datamodel.users(spark, sf_dir).select("id_usuario", "saldo")
        return scd2_apply(
            scd2_init(users, SCD2_T0),
            users.withColumn(
                "saldo",
                F.when(
                    F.col("id_usuario") % 10 == 0, F.col("saldo") + 500.0
                ).otherwise(F.col("saldo")),
            ),
            "id_usuario",
            PIT_T1,
            compare_cols=["saldo"],
        )

    history = memo.shared_frame(spark, sf_dir, "pit_history", _history)
    tx = datamodel.transactions(spark, sf_dir).select(
        "id_transacao",
        F.col("id_usuario_pagador").alias("id_usuario"),
        "data_horario",
    )
    left = tx.select(
        "id_usuario",
        F.col("data_horario").alias("ts"),
        F.lit(1).alias("tag"),
        "id_transacao",
        F.lit(None).cast("double").alias("saldo_v"),
        F.lit(None).cast("timestamp").alias("versao_v"),
    )
    right = history.select(
        "id_usuario",
        F.col("valid_from").alias("ts"),
        F.lit(0).alias("tag"),  # version events sort first at equal ts
        F.lit(None).cast("long").alias("id_transacao"),
        F.col("saldo").alias("saldo_v"),
        F.col("valid_from").alias("versao_v"),
    )
    w = (
        W.partitionBy("id_usuario")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = (
        left.unionByName(right)
        .withColumn(
            "saldo_vigente", F.last("saldo_v", ignorenulls=True).over(w)
        )
        .withColumn(
            "versao_vigente", F.last("versao_v", ignorenulls=True).over(w)
        )
    )
    return merged.filter(F.col("tag") == 1).select(
        "id_transacao",
        "id_usuario",
        F.col("ts").alias("data_horario"),
        "saldo_vigente",
        "versao_vigente",
    )


def snapshot_diff(
    v1: DataFrame, v2: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """CDC snapshot diff between two versions of a keyed table: one row
    per ADDED / REMOVED / CHANGED key, with the before/after values of
    every compare column (suffixed `_antes` / `_depois`); unchanged keys
    are filtered out — at 100 TB you never materialize the unchanged
    majority, only the delta (the table-versioning diff a lakehouse
    time-travel DIFF produces, expressed as one plan).

    Scale shape: ONE full-outer equi-join on the key (hash-partitioned
    both sides, AQE-skew-splittable); the change predicate is a narrow
    null-safe comparison — no window, no second scan of either version."""
    a = v1.select(
        F.col(key), F.lit(True).alias("_in_v1"),
        *[F.col(c).alias(f"{c}_antes") for c in compare_cols],
    )
    b = v2.select(
        F.col(key), F.lit(True).alias("_in_v2"),
        *[F.col(c).alias(f"{c}_depois") for c in compare_cols],
    )
    j = a.join(b, key, "full_outer")
    differ = None
    for c in compare_cols:
        d = ~F.col(f"{c}_antes").eqNullSafe(F.col(f"{c}_depois"))
        differ = d if differ is None else (differ | d)
    status = (
        F.when(F.col("_in_v1").isNull(), F.lit("added"))
        .when(F.col("_in_v2").isNull(), F.lit("removed"))
        .when(differ, F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .drop("_in_v1", "_in_v2")
        .select(
            key,
            "status",
            *[f"{c}_antes" for c in compare_cols],
            *[f"{c}_depois" for c in compare_cols],
        )
    )


#: deterministic evolution for the snapshot-diff fixture query: drops,
#: changes and inserts that both engines derive identically from `users`.
DIFF_DROP_MOD = 7   # id % 7 == 3 -> removed in v2
DIFF_CHANGE_MOD = 10  # id % 10 == 0 -> saldo + 500 in v2
DIFF_ADD_MOD = 25   # id % 25 == 0 -> new key id + 1_000_000 in v2
DIFF_ADD_OFFSET = 1000000


def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked snapshot-diff fixture: v1 = the users dim; v2 = a
    deterministic evolution (every 10th balance +500, every id%7==3
    dropped, a new id+1e6 row for every 25th user at half balance).
    All arithmetic is IEEE-exact (+500.0, *0.5), so the change predicate
    selects identical rows in both engines."""
    from banking_streaming_etl_spark import datamodel

    users = datamodel.users(spark, sf_dir).select("id_usuario", "saldo")
    v2 = (
        users.filter(F.col("id_usuario") % DIFF_DROP_MOD != 3)
        .select(
            "id_usuario",
            F.when(
                F.col("id_usuario") % DIFF_CHANGE_MOD == 0,
                F.col("saldo") + 500.0,
            )
            .otherwise(F.col("saldo"))
            .alias("saldo"),
        )
        .unionByName(
            users.filter(F.col("id_usuario") % DIFF_ADD_MOD == 0).select(
                (F.col("id_usuario") + F.lit(DIFF_ADD_OFFSET)).alias(
                    "id_usuario"
                ),
                (F.col("saldo") * 0.5).alias("saldo"),
            )
        )
    )
    return snapshot_diff(users, v2, "id_usuario", ["saldo"])


def _snapshot_diff_oracle() -> str:
    from banking_streaming_etl_spark import datamodel

    return datamodel.with_ctes(
        f"""
SELECT COALESCE(a.id_usuario, b.id_usuario) AS id_usuario,
       CASE WHEN a.id_usuario IS NULL THEN 'added'
            WHEN b.id_usuario IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       a.saldo AS saldo_antes, b.saldo AS saldo_depois
FROM (SELECT id_usuario, saldo FROM users) a
FULL OUTER JOIN diff_v2 b ON a.id_usuario = b.id_usuario
WHERE a.id_usuario IS NULL OR b.id_usuario IS NULL
   OR a.saldo IS DISTINCT FROM b.saldo""",
        extra_ctes=f"""
diff_v2 AS (
    SELECT id_usuario,
           CASE WHEN id_usuario % {DIFF_CHANGE_MOD} = 0
                THEN saldo + 500.0 ELSE saldo END AS saldo
    FROM users WHERE id_usuario % {DIFF_DROP_MOD} <> 3
    UNION ALL
    SELECT id_usuario + {DIFF_ADD_OFFSET}, saldo * 0.5
    FROM users WHERE id_usuario % {DIFF_ADD_MOD} = 0
)""",
    )


def _pit_oracle() -> str:
    from banking_streaming_etl_spark import datamodel

    return datamodel.with_ctes(
        f"""
SELECT t.id_transacao, t.id_usuario_pagador AS id_usuario,
       t.data_horario, h.saldo AS saldo_vigente,
       h.valid_from AS versao_vigente
FROM transactions t
LEFT JOIN pit_history h
  ON t.id_usuario_pagador = h.id_usuario
 AND CAST(t.data_horario AS TIMESTAMP) >= h.valid_from
 AND (h.valid_to IS NULL OR CAST(t.data_horario AS TIMESTAMP) < h.valid_to)""",
        extra_ctes=f"""
pit_history AS (
    SELECT id_usuario, saldo, TIMESTAMP '{SCD2_T0}' AS valid_from,
           TIMESTAMP '{PIT_T1}' AS valid_to
    FROM users WHERE id_usuario % 10 = 0
    UNION ALL
    SELECT id_usuario, saldo, TIMESTAMP '{SCD2_T0}', NULL
    FROM users WHERE id_usuario % 10 <> 0
    UNION ALL
    SELECT id_usuario, saldo + 500.0, TIMESTAMP '{PIT_T1}', NULL
    FROM users WHERE id_usuario % 10 = 0
)""",
    )



# --- time-travel read over an epoch-keyed CDC history ------------------------

#: time-travel fixture epochs: 0 = initial full load, 1 = update+delete
#: batch, 2 = new-key inserts + resurrection of a deleted subset.
TT_UPSERT_MOD = 10   # id % 10 == 0 -> saldo + 500 at epoch 1
TT_DELETE_MOD = 7    # id % 7 == 3 -> deleted at epoch 1
TT_RESURRECT_MOD = 14  # id % 14 == 3 (subset of the deleted) -> re-upserted
TT_AS_OFS = (1, 2)


def _tt_cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic epoch-keyed CDC log the time-travel fixture
    replays: one (id, saldo, epoch, op) record per change. Per-key
    uniqueness within an epoch is by construction (the epoch-1 upsert
    branch excludes the delete branch's keys; epoch-2 new keys ride the
    +1e6 offset), so the per-key argmax over epochs is tie-free."""
    from banking_streaming_etl_spark import datamodel

    users = datamodel.users(spark, sf_dir).select(
        "id_usuario", F.col("saldo").cast("double").alias("saldo")
    )

    def rec(df, saldo_col, epoch, op):
        return df.select(
            "id_usuario",
            saldo_col.alias("saldo"),
            F.lit(epoch).alias("epoch"),
            F.lit(op).alias("op"),
        )

    e0 = rec(users, F.col("saldo"), 0, "upsert")
    e1_up = rec(
        users.filter(
            (F.col("id_usuario") % TT_UPSERT_MOD == 0)
            & (F.col("id_usuario") % TT_DELETE_MOD != 3)
        ),
        F.col("saldo") + 500.0,
        1,
        "upsert",
    )
    e1_del = rec(
        users.filter(F.col("id_usuario") % TT_DELETE_MOD == 3),
        F.lit(None).cast("double"),
        1,
        "delete",
    )
    e2_new = (
        users.filter(F.col("id_usuario") % DIFF_ADD_MOD == 0)
        .select(
            (F.col("id_usuario") + F.lit(DIFF_ADD_OFFSET)).alias(
                "id_usuario"
            ),
            (F.col("saldo") * 0.5).alias("saldo"),
            F.lit(2).alias("epoch"),
            F.lit("upsert").alias("op"),
        )
    )
    e2_res = rec(
        users.filter(F.col("id_usuario") % TT_RESURRECT_MOD == 3),
        F.col("saldo") * 2.0,
        2,
        "upsert",
    )
    return e0.unionByName(e1_up).unionByName(e1_del).unionByName(
        e2_new
    ).unionByName(e2_res)


def as_of_snapshot(log: DataFrame, epoch: int) -> DataFrame:
    """Reconstruct the table state AS OF `epoch` from an epoch-keyed CDC
    log: per key, the latest record with epoch <= as_of wins; a winning
    delete removes the key (a later upsert resurrects it). ONE
    map-side-combinable aggregate (max_by on the epoch) — no window, no
    log-depth blowup: the shuffle carries one partial winner per
    (partition, key)."""
    return (
        log.filter(F.col("epoch") <= epoch)
        .groupBy("id_usuario")
        .agg(
            F.max_by(F.struct("saldo", "op"), "epoch").alias("s"),
            F.max("epoch").alias("epoch_efetiva"),
        )
        .filter(F.col("s.op") != "delete")
        .select(
            "id_usuario",
            F.col("s.saldo").alias("saldo"),
            F.col("epoch_efetiva").cast("bigint").alias("epoch_efetiva"),
        )
    )


def snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read over the epoch-keyed CDC history (round-12
    verdict task #7 option B; the Delta/Iceberg VERSION AS OF read
    expressed as declarative CDC replay — no transactional format
    needed): reconstruct the snapshot at BOTH fixture as-of epochs in
    one result, keyed by `as_of`. AS OF 1 must show the epoch-1
    upserts and hide the deleted keys while IGNORING every epoch-2
    record; AS OF 2 must show the resurrected subset and the new keys.
    `snapshot_table_diff` between any two epochs composes directly on
    these reconstructions.

    Exactness: all change arithmetic is IEEE-exact (+500.0, *0.5,
    *2.0 on exactly-converted DECIMAL(15,2) balances), op/epoch logic
    is integer/string only. Scale shape: per as-of, ONE aggregate
    keyed on the table key with map-side partial max_by — the CDC log
    is never windowed, sorted globally, or re-scanned per epoch (the
    two fixture as-ofs share one cached log scan)."""
    log = _tt_cdc_log(spark, sf_dir)
    outs = [
        as_of_snapshot(log, e).select(
            F.lit(e).cast("bigint").alias("as_of"),
            "id_usuario",
            "saldo",
            "epoch_efetiva",
        )
        for e in TT_AS_OFS
    ]
    return outs[0].unionByName(outs[1])


def _snapshot_as_of_oracle() -> str:
    from banking_streaming_etl_spark import datamodel

    return datamodel.with_ctes(
        f"""
SELECT as_of, id_usuario, saldo, epoch_efetiva
FROM (
    SELECT CAST(v.as_of AS BIGINT) AS as_of, l.id_usuario, l.saldo, l.op,
           CAST(l.epoch AS BIGINT) AS epoch_efetiva,
           ROW_NUMBER() OVER (
               PARTITION BY v.as_of, l.id_usuario ORDER BY l.epoch DESC
           ) AS rn
    FROM tt_log l
    JOIN (VALUES {', '.join(f'({e})' for e in TT_AS_OFS)}) v(as_of)
      ON l.epoch <= v.as_of
)
WHERE rn = 1 AND op <> 'delete'""",
        extra_ctes=f"""
tt_log AS (
    SELECT id_usuario, CAST(saldo AS DOUBLE) AS saldo,
           0 AS epoch, 'upsert' AS op
    FROM users
    UNION ALL
    SELECT id_usuario, CAST(saldo AS DOUBLE) + 500.0, 1, 'upsert'
    FROM users
    WHERE id_usuario % {TT_UPSERT_MOD} = 0
      AND id_usuario % {TT_DELETE_MOD} <> 3
    UNION ALL
    SELECT id_usuario, NULL, 1, 'delete'
    FROM users WHERE id_usuario % {TT_DELETE_MOD} = 3
    UNION ALL
    SELECT id_usuario + {DIFF_ADD_OFFSET}, CAST(saldo AS DOUBLE) * 0.5,
           2, 'upsert'
    FROM users WHERE id_usuario % {DIFF_ADD_MOD} = 0
    UNION ALL
    SELECT id_usuario, CAST(saldo AS DOUBLE) * 2.0, 2, 'upsert'
    FROM users WHERE id_usuario % {TT_RESURRECT_MOD} = 3
)""",
    )
