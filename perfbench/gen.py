"""Seeded inputs for the benchmark: four tables shaped like the
repository's testdata, and the stream's JSON-lines wire files.

The tables follow the testdata schema (`events`, `customer`,
`nation`, `region`) and stay inside its value ranges, because the
analyst workload checks every query bit-strictly against DuckDB:

- `events.ts` is a naive microsecond timestamp inside January 2024,
  strictly increasing with `event_id`;
- `events.event_type` is drawn from `datamodel.MODALITIES`;
- `events.value` is a whole number of cents divided by 100 (so each value
  is the double nearest its 2-decimal text), exponential with mean 50 and
  capped at 560.00;
- `events.props` is `{"k": n}` with n in 0..99;
- payers are the first tenth of the customers, as in the testdata.

The wire files carry the 7-field transaction contract that
`sources.stream.read_transaction_stream` parses, one JSON object a line,
rendered here in Python so that generating them needs no Spark session.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MODALITIES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
TS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
TS_SPAN_US = 30 * 86_400 * 1_000_000
VALUE_CAP_CENTS = 56_000
#: the sf0.1 events-to-customers ratio (100k : 15k)
CUSTOMERS_PER_EVENT = 0.15


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, seed: int, n_events: int) -> None:
    """Write `events`, `customer`, `nation` and `region` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_customers = int(n_events * CUSTOMERS_PER_EVENT)
    n_payers = max(1, n_customers // 10)

    offsets = np.sort(rng.integers(0, TS_SPAN_US - n_events, n_events))
    ts_us = TS_START_US + offsets + np.arange(n_events)
    cents = np.minimum(
        np.rint(rng.exponential(5000.0, n_events)), VALUE_CAP_CENTS
    ).astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_payers, n_events)),
            "event_type": pa.array(
                np.array(MODALITIES)[rng.integers(0, len(MODALITIES), n_events)]
            ),
            "value": pa.array(cents / 100.0),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    _write(events, f"{out_dir}/events.parquet")

    acct_cents = rng.integers(-99_999, 1_000_000, n_customers)
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_customers, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, n_customers).astype(np.int32)
            ),
            "c_acctbal": pa.array(acct_cents / 100.0),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_customers)]
            ),
        }
    )
    _write(customer, f"{out_dir}/customer.parquet")

    keys = np.arange(N_NATIONS, dtype=np.int32)
    nation = pa.table(
        {
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{k}" for k in keys]),
            "n_regionkey": pa.array(keys % len(REGIONS)),
        }
    )
    _write(nation, f"{out_dir}/nation.parquet")
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
            "r_name": pa.array(list(REGIONS)),
        }
    )
    _write(region, f"{out_dir}/region.parquet")


def wire_lines(tables_dir: str) -> list[str]:
    """The events table as wire lines, in `event_id` order."""
    ev = pq.read_table(f"{tables_dir}/events.parquet").to_pydict()
    lines = []
    for eid, ts, uid, etype, value, props in zip(
        ev["event_id"], ev["ts"], ev["user_id"], ev["event_type"],
        ev["value"], ev["props"],
    ):
        lines.append(
            json.dumps(
                {
                    "id_transacao": eid,
                    "id_usuario_pagador": uid,
                    "id_usuario_recebedor": json.loads(props)["k"],
                    "id_regiao": eid % N_NATIONS,
                    "modalidade_pagamento": etype,
                    "data_horario": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "valor_transacao": value,
                }
            )
        )
    return lines


def write_wire_files(
    lines: list[str], out_dir: str, rows_per_file: int, start: int = 0
) -> list[str]:
    """Split `lines[start:]` into files of `rows_per_file` lines; returns
    the file paths in order. File names sort in generation order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, lo in enumerate(range(start, len(lines), rows_per_file)):
        path = f"{out_dir}/part-{i:05d}.json"
        with open(path, "w") as f:
            f.write("\n".join(lines[lo : lo + rows_per_file]) + "\n")
        paths.append(path)
    return paths
