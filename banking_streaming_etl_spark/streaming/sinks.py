"""Sinks (SURVEY.md §2.2) — batch and streaming, with idempotent replay.

The reference's JDBC append inside foreachBatch is at-least-once: a batch
retried after a sink failure writes its rows twice (acknowledged as
deferred design work, PDF p. 8). Every foreachBatch sink of this package
closes that gap with ONE epoch-keyed writer, `write_epoch`: each
micro-batch overwrites its own `batch_id=N` leaf directory, so a replayed
epoch REPLACES its own output instead of appending a duplicate, and no
other epoch's directory is touched. Combined with checkpointed offsets
this yields effectively-once output — the same pattern a JDBC sink would
implement with `DELETE WHERE batch_id = N` + insert in one transaction.

The writer serves the flagship multi-sink (`pipeline.start_multi_sink`:
history and scores), `IdempotentParquetSink`, the materialized aggregate
and join views, the quantile-sketch store and the CDC upsert
(`operators.scd.CdcUpsertSink`). Each sink is a `write_batch(batch_df,
epoch_id)` callback, and every one starts through `start_foreach_batch`.
The views and the CDC upsert fold their epochs on read and share one
crash-safe compaction swap (`_compact_epochs` / `_recover_compact`),
which writes its folded store through `write_epoch` too. Readers see the
epoch as a trailing `batch_id` int partition column, discovered from the
directory names. An epoch with no rows still leaves a zero-row part file
(with the schema) in its directory.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.streaming import StreamingQuery


def write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Land `df` as the `batch_id=epoch_id` leaf of the parquet store at
    `path`, replacing whatever an earlier attempt of the same epoch left
    there and no other epoch. `df` must not carry a `batch_id` column:
    the directory name is the column."""
    df.write.mode("overwrite").parquet(f"{path}/batch_id={int(epoch_id)}")


def start_foreach_batch(
    stream: DataFrame, write_batch, checkpoint_dir: str
) -> StreamingQuery:
    """Start `stream` with `write_batch(batch_df, epoch_id)` as its
    foreachBatch sink, its offsets checkpointed at `checkpoint_dir`."""
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _has_epochs(path: str) -> bool:
    """True once some epoch committed a part file under `path` — before
    that a store is legally empty and `spark.read` would fail schema
    inference on a bare directory."""
    return bool(glob.glob(os.path.join(path, "batch_id=*", "part-*.parquet")))


def _recover_compact(path: str) -> None:
    """Roll back a `_compact_epochs` that crashed mid-swap: if the live
    store is gone but its `__old` backup exists, the crash hit between
    the rename-aside and the promote — restore the backup (a complete
    copy of the pre-compact state) and drop any stray compacted temp.
    Without this, the next write would silently recreate an EMPTY store
    while all prior state sat stranded in `__old`."""
    backup = path + "__old"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
        tmp = path + "__compact"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)


def _compact_epochs(folded: DataFrame, path: str) -> None:
    """Replace the epoch-keyed store at `path` by `folded` (its content
    folded by the caller) as one `batch_id=-1` partition. -1 sorts before
    every real epoch, and the folded store keeps the partition layout — a
    mixed layout would make Spark's partition discovery silently drop the
    root-level file.

    Crash-safe swap: rename the live store aside FIRST, then promote the
    compacted copy, then drop the backup — at least one complete copy of
    the state exists at every instant. A crash between the rename-aside
    and the promote leaves no live dir; `_recover_compact` restores the
    backup on the next read or write."""
    tmp = path + "__compact"
    write_epoch(folded.drop("batch_id"), tmp, -1)
    backup = path + "__old"
    if os.path.exists(backup):
        shutil.rmtree(backup)
    os.rename(path, backup)
    shutil.move(tmp, path)
    shutil.rmtree(backup)


class IdempotentParquetSink:
    """foreachBatch writer: each epoch overwrites its own `batch_id=N`
    leaf (`write_epoch`)."""

    def __init__(self, out_dir: str, columns: list[str] | None = None):
        self.out_dir = out_dir
        self.columns = columns

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        df = batch_df.select(*self.columns) if self.columns else batch_df
        write_epoch(df, self.out_dir, epoch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.out_dir)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K7: CSV batch sink (src/teste.py:175)."""
    df.write.mode(mode).option("header", "true").csv(path)


def start_csv_stream_sink(
    stream_df: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """K6: CSV streaming sink with checkpoint (src/teste2.py:31-36)."""
    return (
        stream_df.writeStream.outputMode("append")
        .format("csv")
        .option("header", "true")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """The scale-out history layout: partition by coarse keys (e.g. date)
    so downstream scans prune partitions."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    sort_cols: list[str],
    target_file_rows: int = 1_000_000,
) -> int:
    """Small-file compaction + clustering rewrite — the maintenance job a
    streaming ingest needs: micro-batches leave one small file per epoch
    per partition, and scan cost at 100 TB is dominated by file count and
    row-group locality.

    Rewrites `src_path` range-partitioned and sorted by `sort_cols`
    (repartitionByRange -> sortWithinPartitions, so rows cluster by the
    query-predicate columns and min/max row-group stats become selective
    — poor-man's Z-order for a single sort family), capping rows per
    output file so file sizes stay bounded no matter the partition count.
    Returns the number of files written. Deterministic apart from file
    layout; content equality is what the test pins."""
    import math

    df = spark.read.parquet(src_path)
    n = df.count()
    n_parts = max(1, math.ceil(n / target_file_rows))
    (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_file_rows)
        .parquet(dst_path)
    )
    return len(glob.glob(f"{dst_path}/part-*.parquet"))


class MaterializedAggregateView:
    """Exactly-once streaming materialized view of an ADDITIVE aggregate
    (counts / decimal sums keyed by a group column) — the incremental
    twin of a batch groupBy that a dashboard reads without rescanning
    history.

    Additive merges are NOT naturally idempotent (a replayed epoch would
    double-add), so each micro-batch's partial aggregate lands in its own
    `batch_id=N` partition via `write_epoch` — the same epoch-keyed
    pattern as IdempotentParquetSink, applied to aggregate DELTAS instead
    of rows. A replayed epoch overwrites its own delta; the read side
    re-aggregates the (tiny, groups x epochs) delta table. Periodic
    `compact()` folds all deltas into one partition to bound that table.

    At scale: each delta write is the batch's own partial aggregate
    (groups-sized, not rows-sized); the read-side fold is over
    groups x epochs rows — compact() keeps epochs bounded. The pattern a
    transactional lakehouse implements with MERGE, done with plain
    parquet + epoch keys.
    """

    def __init__(self, out_dir: str, key_col: str, value_col: str):
        self.out_dir = out_dir
        self.key_col = key_col
        self.value_col = value_col

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        from banking_streaming_etl_spark.functions import exact

        _recover_compact(self.out_dir)
        delta = batch_df.groupBy(self.key_col).agg(
            F.count("*").alias("n_delta"),
            F.sum(exact._d(F.col(self.value_col))).alias("soma_delta"),
        )
        write_epoch(delta, self.out_dir, epoch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        """Fold the deltas into the current view: (key, n, soma)."""
        _recover_compact(self.out_dir)
        deltas = spark.read.parquet(self.out_dir)
        return deltas.groupBy(self.key_col).agg(
            F.sum("n_delta").alias("n"),
            F.sum("soma_delta").cast("double").alias("soma"),
        )

    def compact(self, spark: SparkSession) -> None:
        """Fold all epoch deltas into a single batch_id=-1 partition (the
        maintenance pass that bounds the delta table).

        OPERATIONAL CONSTRAINT (like any lake VACUUM/OPTIMIZE): run only
        while the stream is STOPPED at a committed checkpoint. Folding a
        written-but-uncommitted epoch and then replaying it would count
        it twice, and a delta landing between the fold's read and the
        directory swap would be lost."""
        # a retried compact after a mid-swap crash must restore the
        # backup first, like read()/write_batch() do — otherwise the
        # spark.read below hits the missing live dir and raises instead
        # of recovering
        _recover_compact(self.out_dir)
        folded = (
            spark.read.parquet(self.out_dir)
            .groupBy(self.key_col)
            .agg(
                F.sum("n_delta").alias("n_delta"),
                F.sum("soma_delta").alias("soma_delta"),
            )
        )
        _compact_epochs(folded, self.out_dir)


class QuantileSketchStore:
    """Exactly-once streaming mergeable quantile-sketch store — the
    streaming face of `plans.relational.quantile_sketch_rollup`'s merge
    law. Each micro-batch's per-modality bottom-Q value sample (under
    the portable-LCG (h, tid) total order) lands as a DELTA in its own
    `batch_id=N` partition (the MaterializedAggregateView epoch-keyed
    layout); the read side re-truncates the union of all deltas — and
    because a bottom-Q merge is IDEMPOTENT, commutative and associative
    (min-wise: duplicate members cannot change a bottom-Q once deduped
    on (h, tid)), the folded store is BIT-EQUAL to the direct batch
    sketch over every row ever streamed, for ANY micro-batch
    partitioning and even for replayed epochs. State: <= Q rows per
    modality per epoch on disk, <= Q per modality after read-side
    truncation — bounded forever. A true bottom-K cannot ride a
    streaming aggregate (its state is the sample set, not a MIN cell);
    the foreachBatch delta + lossless merge is the streaming-safe
    form, exactly the per-day rollup law applied to trigger slices."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    @staticmethod
    def _bottom_q(rows: DataFrame) -> DataFrame:
        """Per-modality bottom-Q of (modalidade_pagamento, tid, v, h)
        rows — the same two-stage salted truncation as the batch
        builder (no task sorts a full slice)."""
        from banking_streaming_etl_spark.plans.relational import (
            KMV_SALTS,
            QSK_Q,
        )

        pre_w = W.partitionBy("modalidade_pagamento", "qsk_salt").orderBy(
            F.asc("h"), F.asc("tid")
        )
        pre = (
            rows.withColumn("qsk_salt", F.col("h") % F.lit(KMV_SALTS))
            .withColumn("rk1", F.row_number().over(pre_w))
            .filter(F.col("rk1") <= QSK_Q)
        )
        w = W.partitionBy("modalidade_pagamento").orderBy(
            F.asc("h"), F.asc("tid")
        )
        return (
            pre.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= QSK_Q)
            .select("modalidade_pagamento", "tid", "v", "h")
        )

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """batch_df: parsed transactions (id_transacao,
        valor_transacao, modalidade_pagamento)."""
        from banking_streaming_etl_spark.functions import portable

        rows = batch_df.filter(F.col("valor_transacao").isNotNull()).select(
            "modalidade_pagamento",
            F.col("id_transacao").alias("tid"),
            (F.col("valor_transacao") + F.lit(0.0)).alias("v"),
            portable.lcg_hash(F.col("id_transacao")).alias("h"),
        )
        write_epoch(self._bottom_q(rows), self.out_dir, epoch_id)

    def read_sample(self, spark: SparkSession) -> DataFrame:
        """The live merged sample: re-truncate the union of all epoch
        deltas (dedup on (h, tid) first — a replayed epoch landing in a
        fresh partition is harmless by idempotence). Before the first
        non-empty micro-batch commits a part file the store is legally
        empty — return an explicitly-schemed empty sample instead of
        letting spark.read fail schema inference on a bare directory
        (round-13 advice: this store gets polled mid-stream)."""
        if not _has_epochs(self.out_dir):
            return spark.createDataFrame(
                [],
                "modalidade_pagamento string, tid bigint, "
                "v double, h bigint",
            )
        deltas = spark.read.parquet(self.out_dir).select(
            "modalidade_pagamento", "tid", "v", "h"
        ).distinct()
        return self._bottom_q(deltas)

    def read_quantiles(self, spark: SparkSession) -> DataFrame:
        """The live percentile-grid answer — literally the batch
        query's shared read-side derivation over the live sample."""
        from banking_streaming_etl_spark.plans.relational import (
            qsk_grid_answers,
        )

        return qsk_grid_answers(self.read_sample(spark))


class MaterializedJoinView:
    """Incremental view maintenance for an INNER equi-join view
    V = A JOIN B ON key over two APPEND-ONLY inputs — the delta-join
    law, the one streaming-materialization face MaterializedAggregateView
    (additive aggregates) does not cover:

        dV_N = dA_N JOIN B_{<=N}   UNION ALL   A_{<N} JOIN dB_N

    Summed over epochs the deltas PARTITION the full join: every joined
    pair (a, b) lands in exactly one epoch, max(epoch(a), epoch(b)) —
    the A-side term takes ties via B_{<=N} vs A_{<N} (strict). Per-epoch
    work is DELTA-sized on the probe side (never re-joins
    A_{<N} x B_{<N}), which is what makes the view maintainable forever.

    Exactly-once under replay, same epoch-keyed discipline as the other
    sinks in this file: the input deltas AND the view delta for epoch N
    each overwrite their own `batch_id=N` leaf via `write_epoch`,
    and dV_N is recomputed only from input partitions < N / <= N — a
    replayed epoch overwrites all three of its partitions with identical
    content for ANY retry timing (streaming replays only ever re-run the
    last uncommitted epoch, so no later partition can contaminate the
    recompute). The read side is a PLAIN SCAN of the view directory — no
    fold: unlike the aggregate view, the join view's deltas are already
    disjoint output rows.

    At 100 TB: each epoch shuffles only the delta plus the matching side
    of the history (equi-join on the key; with the stores bucketed by
    the join key the history side would not reshuffle at all — plain
    parquet cannot declare buckets, so that layout upgrade is noted in
    SCALING.md rather than implemented here); the view itself is
    epoch-partitioned, append-only, and never rewritten.
    """

    def __init__(self, out_dir: str, on: str):
        self.left_dir = os.path.join(out_dir, "left")
        self.right_dir = os.path.join(out_dir, "right")
        self.view_dir = os.path.join(out_dir, "view")
        self.on = on

    def _history(
        self, spark: SparkSession, path: str, like: DataFrame,
        before: int, inclusive: bool,
    ) -> DataFrame:
        """Input partitions with batch_id < N (or <= N) — `like.limit(0)`
        stands in before the first commit (same schema, zero rows)."""
        if not _has_epochs(path):
            return like.limit(0)
        cut = (F.col("batch_id") <= before) if inclusive else (
            F.col("batch_id") < before)
        return spark.read.parquet(path).filter(cut).drop("batch_id")

    def write_batch(
        self, left_delta: DataFrame, right_delta: DataFrame, epoch_id: int
    ) -> None:
        """Land both input deltas, then derive and land the view delta.
        Column contract: the two sides share ONLY the join key."""
        spark = left_delta.sparkSession
        n = int(epoch_id)
        self._recover()
        write_epoch(left_delta, self.left_dir, n)
        write_epoch(right_delta, self.right_dir, n)
        right_upto = self._history(
            spark, self.right_dir, right_delta, n, inclusive=True)
        left_before = self._history(
            spark, self.left_dir, left_delta, n, inclusive=False)
        view_delta = left_delta.join(right_upto, self.on).unionByName(
            left_before.join(right_delta, self.on)
        )
        write_epoch(view_delta, self.view_dir, n)

    def read(self, spark: SparkSession) -> DataFrame:
        """The current view: a plain scan (deltas are disjoint rows).
        Legally empty before the first committed epoch."""
        self._recover()
        if not _has_epochs(self.view_dir):
            raise ValueError(
                "MaterializedJoinView.read before any committed epoch — "
                "the view schema is defined by the inputs; poll after "
                "the first write_batch commits"
            )
        return spark.read.parquet(self.view_dir).drop("batch_id")

    def _recover(self) -> None:
        """Roll back a compact() that crashed mid-swap on any of the
        three stores."""
        for path in (self.left_dir, self.right_dir, self.view_dir):
            _recover_compact(path)

    def compact(self, spark: SparkSession) -> None:
        """Fold every epoch partition of the input stores AND the view
        into a single batch_id=-1 partition each — the maintenance pass
        that bounds partition count for a long-running stream. Join
        deltas are disjoint rows, so the fold is a plain rewrite (no
        re-aggregation); -1 sorts before every real epoch, so compacted
        history still counts as `< N` / `<= N` for every future epoch's
        delta-join recompute.

        OPERATIONAL CONSTRAINT (same as MaterializedAggregateView): run
        only while the stream is STOPPED at a committed checkpoint — a
        written-but-uncommitted epoch folded here and then replayed
        would recompute its view delta against history that already
        contains it."""
        self._recover()
        for path in (self.left_dir, self.right_dir, self.view_dir):
            if _has_epochs(path):
                _compact_epochs(spark.read.parquet(path), path)


def start_materialized_join_view(
    tx_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    alert_value: float = 220.0,
) -> StreamingQuery:
    """The concrete banking face of the delta-join view: every
    transaction paired with every HIGH-VALUE alert by the same payer —
    including pairs that span micro-batches arbitrarily far apart, the
    exact shape a watermarked stream-stream join cannot express with
    bounded state (its state grows with history; here the history lives
    in the epoch-keyed parquet stores and per-epoch work stays
    delta-sized)."""
    view = MaterializedJoinView(out_dir, on="id_usuario_pagador")

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        left = batch_df.select(
            "id_usuario_pagador", "id_transacao", "valor_transacao"
        )
        right = batch_df.filter(
            F.col("valor_transacao") >= F.lit(alert_value)
        ).select(
            "id_usuario_pagador",
            F.col("id_transacao").alias("id_alerta"),
            F.col("valor_transacao").alias("valor_alerta"),
        )
        view.write_batch(left, right, epoch_id)

    return start_foreach_batch(tx_stream, _write, checkpoint_dir)
