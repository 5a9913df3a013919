"""Stateful streaming done right: the reference's failed experiment, revived.

The reference tried "last approved transaction per user" with
applyInPandasWithState and hit >60 s micro-batches — per-row JVM<->Python
state exchange (SURVEY.md §4.4, PDF p. 8). The operators here keep state in
the JVM state store (RocksDB-backed on a cluster), partitioned by the group
key, with watermark-driven eviction — the per-user state path at any scale:

- `last_tx_per_user`: streaming max_by aggregation in update mode — state
  is one row per user. It is the one implementation of that contract.
- `running_user_totals`: streaming sum/count per user (update mode).
- `dedup_within_watermark` lives in streaming/windows.py (same family).

Every stateful requirement in this engine's surface maps to a JVM-native
aggregation except one: `transition_counts_stream` needs the previous
event of each user, which no commutative combine can carry, so it is
the one use of applyInPandasWithState (U3) — Arrow-batched group
iteration with scalar state, not the reference's per-row serde.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def last_tx_per_user(approved_stream: DataFrame) -> DataFrame:
    """Latest transaction per payer (update mode): max_by over event time
    with id tiebreak via struct ordering — one state row per user."""
    return approved_stream.groupBy("id_usuario_pagador").agg(
        F.max_by(
            F.struct(
                "data_horario",
                "id_transacao",
                "valor_transacao",
                "transacao_aprovada",
            ),
            F.struct("data_horario", "id_transacao"),
        ).alias("ultima"),
    ).select(
        "id_usuario_pagador",
        F.col("ultima.data_horario").alias("data_horario"),
        F.col("ultima.id_transacao").alias("id_transacao"),
        F.col("ultima.valor_transacao").alias("valor_transacao"),
        F.col("ultima.transacao_aprovada").alias("transacao_aprovada"),
    )


def running_user_totals(approved_stream: DataFrame) -> DataFrame:
    """Per-user running count/sum/approval-rate (update mode)."""
    return approved_stream.groupBy("id_usuario_pagador").agg(
        F.count("*").alias("total_transacoes"),
        F.sum("valor_transacao").alias("valor_total"),
        F.avg(F.col("transacao_aprovada").cast("double")).alias(
            "taxa_aprovacao"
        ),
    )


#: output contract of `transition_counts_stream`.
_TRANSITION_SCHEMA = T.StructType(
    [
        T.StructField("id_usuario_pagador", T.LongType()),
        T.StructField("anterior", T.StringType()),
        T.StructField("atual", T.StringType()),
    ]
)


def transition_counts_stream(tx_stream: DataFrame) -> DataFrame:
    """Streaming twin of `plans.behavior.event_transition_matrix`: emit
    one row per observed (previous -> current) modality transition per
    payer, with the previous event carried ACROSS micro-batches in
    per-user state.

    This is the one stateful shape in this engine's surface that a
    JVM-native streaming aggregation genuinely cannot express — a lag
    needs the neighbor row, not a commutative combine — so it is the
    legitimate use of applyInPandasWithState (Arrow-batched group
    iteration, scalar state per user: (ts_us, id, modality) of the
    latest event; never the reference's per-row serde that melted its
    T7 experiment, SURVEY.md §4.4).

    Contract: arrival must respect per-user event-time order across
    micro-batches (the time-ordered log-replay contract —
    sources/stream.write_replay_chunks_ordered; a Kafka source keyed by
    user gives the same per-key ordering). Rows within a batch are
    sorted per group before pairing; an out-of-order row (older than
    the state's last event) is dropped like late data past a watermark
    rather than corrupting the chain. Downstream, counts are one
    aggregation over the emitted pairs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("id_transacao", T.LongType()),
            T.StructField("modalidade", T.StringType()),
        ]
    )

    def fn(key, pdfs, state):
        events = []
        for pdf in pdfs:
            for ts, txid, mod in zip(
                pdf["data_horario"],
                pdf["id_transacao"],
                pdf["modalidade_pagamento"],
            ):
                events.append(
                    (int(pd.Timestamp(ts).value // 1000), int(txid), str(mod))
                )
        events.sort()
        prev = tuple(state.get) if state.exists else None
        out = []
        for ev in events:
            if prev is not None and ev[:2] > tuple(prev[:2]):
                out.append((key[0], prev[2], ev[2]))
                prev = ev
            elif prev is None:
                prev = ev
            # else: out-of-order arrival — drop, keep the newer state
        state.update(prev)
        if out:
            yield pd.DataFrame(
                out, columns=["id_usuario_pagador", "anterior", "atual"]
            )

    return (
        tx_stream.select(
            "id_usuario_pagador",
            "data_horario",
            "id_transacao",
            "modalidade_pagamento",
        )
        .groupBy("id_usuario_pagador")
        .applyInPandasWithState(
            fn,
            _TRANSITION_SCHEMA,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
