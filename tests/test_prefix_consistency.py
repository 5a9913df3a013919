"""Prefix consistency (SIGMOD 2018, PAPERS.md) of the six foreachBatch
sinks, each its own query: the flagship multi-sink (history, scores,
recent view), the idempotent sink, the aggregate view, the quantile
store, the join view and the CDC upsert. Hypothesis draws the replay's
files, `maxFilesPerTrigger`, a stop where the views and the CDC store
compact (one cut short in its folded write or its swap), and one failure
(epoch, sink write, before or after it lands) injected through a
module's `write_epoch` name. Every sink must equal its batch twin over
the committed prefix, bit for bit, at each epoch's start, at the stop,
at the failure and at the end."""

from __future__ import annotations

import glob
import os
import shutil
import struct
import tempfile
import time
from collections import Counter
from typing import NamedTuple

import pytest
from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import exact
from banking_streaming_etl_spark.operators import scd
from banking_streaming_etl_spark.plans import relational
from banking_streaming_etl_spark.plans.approval import approval_pipeline
from banking_streaming_etl_spark.sources import stream as stream_src
from banking_streaming_etl_spark.streaming import pipeline as spipe
from banking_streaming_etl_spark.streaming import sinks
from conftest import SF_SMOKE

#: the 1,000-row corpus, whatever scale the smoke tests run at
SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.001")
N_ROWS = 1000
ALERT = relational.IVM_ALERT_VALUE

TX_COLS = ["id_transacao", "id_usuario_pagador", "modalidade_pagamento",
           "data_horario", "valor_transacao"]
#: the columns each output is compared on; the flagship's wall-clock
#: stamps and latencies are left out
COLS = {
    "hist": [c for c in spipe.OUTPUT_COLUMNS
             if not c.startswith(("tempo_", "latencia_"))],
    "scores": ["id_transacao", "t5_score", "t6_score", "t7_score"],
    "recent": ["id_transacao", "modalidade_pagamento", "valor_transacao",
               "transacao_aprovada"],
    "idem": TX_COLS,
    "agg": ["modalidade_pagamento", "n", "soma"],
    "qsk": ["modalidade_pagamento", "tid", "v", "h"],
    "jv": ["id_usuario_pagador", "id_transacao", "valor_transacao",
           "id_alerta", "valor_alerta"],
    "cdc": ["id_usuario_pagador", "data_horario", "id_transacao",
            "valor_transacao"],
}
#: output -> (its query, the store it reads); the recent view is
#: applied only after both flagship writes of an epoch succeeded
OUTPUTS = {
    "hist": ("flagship", "hist"), "scores": ("flagship", "scores"),
    "recent": ("flagship", None), "idem": ("idem", "idem"),
    "agg": ("agg", "agg"), "qsk": ("qsk", "qsk"), "jv": ("jv", "jv/view"),
    "cdc": ("cdc", "cdc"),
}
QUERIES = list(dict.fromkeys(q for q, _ in OUTPUTS.values()))
#: every sink write, by its store, and its query
WRITES = {store: q for q, store in OUTPUTS.values() if store}
WRITES.update({"jv/left": "jv", "jv/right": "jv"})
COMPACTED = {"agg": ["agg"], "jv": ["jv/left", "jv/right", "jv/view"],
             "cdc": ["cdc"]}


class Scenario(NamedTuple):
    bounds: tuple[int, ...]  # file j holds rows bounds[j]:bounds[j+1]
    newest_first: bool  # files in descending id order, else ascending
    per_trigger: int  # maxFilesPerTrigger
    stop: int  # epochs before the clean stop and the compactions
    cut_short: tuple[str, str] | None  # (sink, "write" | "swap")
    fail_epoch: int
    fail_write: str
    fail_after: bool

    @property
    def n_epochs(self) -> int:
        return -(-(len(self.bounds) - 1) // self.per_trigger)


@st.composite
def scenarios(draw) -> Scenario:
    n_files = draw(st.integers(2, 5))
    cuts = draw(st.sets(st.integers(1, N_ROWS - 1),
                        min_size=n_files - 1, max_size=n_files - 1))
    per_trigger = draw(st.integers(1, 2))
    n_epochs = -(-n_files // per_trigger)
    stop = draw(st.integers(0, n_epochs - 1))
    return Scenario(
        bounds=(0, *sorted(cuts), N_ROWS),
        newest_first=draw(st.booleans()),
        per_trigger=per_trigger,
        stop=stop,
        cut_short=(draw(st.sampled_from(sorted(COMPACTED))),
                   draw(st.sampled_from(["write", "swap"]))) if stop else None,
        fail_epoch=draw(st.integers(stop, n_epochs - 1)),
        fail_write=draw(st.sampled_from(sorted(WRITES))),
        fail_after=draw(st.booleans()),
    )


class InjectedFailure(RuntimeError):
    pass


def _fail(*args):
    raise InjectedFailure(args)


def _rows(rows, cols) -> Counter:
    """The rows' `cols` as a multiset, doubles by their bits."""
    return Counter(
        tuple(struct.pack("<d", v) if isinstance(v, float) else v
              for v in (r[c] for c in cols))
        for r in rows
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """Each transaction's wire line and batch rows, by id."""
    t = datamodel.transactions(spark, SF)
    wire = dict(t.select("id_transacao", stream_src._wire_value()).collect())
    assert len(wire) == N_ROWS
    tx = {r.id_transacao: r for r in t.select(*TX_COLS).collect()}
    approved = {
        r.id_transacao: r
        for r in approval_pipeline(spark, SF).select(*COLS["hist"]).collect()
    }
    return wire, tx, approved


class Rig:
    """The six sink queries over one replay directory, and twins."""

    def __init__(self, spark, corpus, sc: Scenario, root: str):
        self.spark, self.sc, self.root = spark, sc, root
        self.wire, self.tx, self.approved = corpus
        self.order = sorted(self.wire, reverse=sc.newest_first)
        self.src = self.dir("src")
        os.makedirs(self.src)
        self.staged = 0
        self.checked = {q: set() for q in QUERIES}
        self.view = spipe.RecentTransactionsView(capacity=N_ROWS)
        self.idem = sinks.IdempotentParquetSink(self.dir("idem"), TX_COLS)
        self.agg = sinks.MaterializedAggregateView(
            self.dir("agg"), "modalidade_pagamento", "valor_transacao")
        self.qsk = sinks.QuantileSketchStore(self.dir("qsk"))
        self.jv = sinks.MaterializedJoinView(self.dir("jv"),
                                             "id_usuario_pagador")
        self.cdc = scd.CdcUpsertSink(self.dir("cdc"), "id_usuario_pagador",
                                     "data_horario", "id_transacao")

    def dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def stage(self, n_files: int) -> None:
        """Land files up to `n_files`, each newer than the last."""
        t0 = time.time() - 1000
        for j in range(self.staged, n_files):
            path = os.path.join(self.src, f"part-{j:03d}.json")
            ids = self.order[self.sc.bounds[j]:self.sc.bounds[j + 1]]
            with open(path, "w") as f:
                f.writelines(self.wire[i] + "\n" for i in ids)
            os.utime(path, (t0 + j, t0 + j))
        self.staged = max(self.staged, n_files)

    def prefix(self, n_epochs: int) -> list[int]:
        n_files = min(n_epochs * self.sc.per_trigger, len(self.sc.bounds) - 1)
        return self.order[:self.sc.bounds[n_files]]

    def start(self, query: str):
        tx = stream_src.read_transaction_stream(
            self.spark, self.src, max_files_per_trigger=self.sc.per_trigger)
        ckpt = self.dir(f"ckpt/{query}")
        if query == "flagship":
            return spipe.start_multi_sink(
                spipe.approval_stream(tx, datamodel.users(self.spark, SF),
                                      datamodel.regions(self.spark, SF)),
                self.dir("hist"), self.dir("scores"), ckpt,
                recent_view=self.view, recent_k=N_ROWS)
        if query == "jv":
            return sinks.start_materialized_join_view(
                tx, self.dir("jv"), ckpt, alert_value=ALERT)
        return sinks.start_foreach_batch(
            tx, getattr(self, query).write_batch, ckpt)

    def observed(self, start):
        """`start` whose callback first checks the query's sinks."""

        def observed_start(stream, write_batch, checkpoint_dir):
            def run(batch_df, epoch_id):
                self.check(os.path.basename(checkpoint_dir), epoch_id)
                write_batch(batch_df, epoch_id)

            return start(stream, run, checkpoint_dir)

        return observed_start

    def run(self, n_files: int, failing: str | None = None) -> None:
        """Drain every query over `n_files`; only `failing` fails."""
        self.stage(n_files)
        queries, failed = {}, set()
        try:
            for query in QUERIES:
                queries[query] = self.start(query)
            for query, q in queries.items():
                try:
                    q.processAllAvailable()
                except StreamingQueryException as e:
                    if query != failing or "InjectedFailure" not in str(e):
                        raise
                    failed.add(query)
        finally:
            for q in queries.values():
                q.stop()
        assert failed == {failing} - {None}

    def got(self, out: str) -> Counter:
        spark, store = self.spark, OUTPUTS[out][1]
        if out == "recent":
            rows = self.view.top_k(N_ROWS)
        elif out == "qsk":
            rows = self.qsk.read_sample(spark).collect()
        elif not sinks._has_epochs(self.dir(store)):
            rows = []
        elif out in ("agg", "jv", "cdc"):
            rows = getattr(self, out).read(spark).collect()
        else:
            rows = spark.read.parquet(self.dir(store)).collect()
        return _rows(rows, COLS[out])

    def want(self, out: str, ids: list[int]) -> Counter:
        if out in ("hist", "scores", "recent"):
            return _rows([self.approved[i] for i in ids], COLS[out])
        rows = [self.tx[i] for i in ids]
        if out == "cdc":  # the last write by (event time, id) wins
            last = {}
            for r in sorted(rows, key=lambda r: (r.data_horario,
                                                 r.id_transacao)):
                last[r.id_usuario_pagador] = r
            rows = last.values()
        elif out == "jv":
            rows = [{**r.asDict(), "id_alerta": a.id_transacao,
                     "valor_alerta": a.valor_transacao}
                    for a in rows if a.valor_transacao >= ALERT
                    for r in rows
                    if r.id_usuario_pagador == a.id_usuario_pagador]
        elif out == "agg":
            rows = datamodel.transactions(self.spark, SF).filter(
                F.col("id_transacao").isin(ids)
            ).groupBy("modalidade_pagamento").agg(
                F.count("*").alias("n"),
                exact.exact_sum("valor_transacao", "soma")).collect()
        elif out == "qsk":
            rows = sinks.QuantileSketchStore._bottom_q(
                relational._qsk_rows(self.spark, SF).filter(
                    F.col("tid").isin(ids))
            ).collect()
        return _rows(rows, COLS[out])

    def compare(self, out: str, n_epochs: int) -> None:
        got, want = self.got(out), self.want(out, self.prefix(n_epochs))
        assert got == want, (
            f"{out} after {n_epochs} epochs: {sum(got.values())} rows, "
            f"want {sum(want.values())}; {self.sc}")

    def check(self, query: str, n_epochs: int) -> None:
        """Every output of `query` after `n_epochs` epochs, once."""
        if n_epochs not in self.checked[query]:
            for out, (q, _) in OUTPUTS.items():
                if q == query:
                    self.compare(out, n_epochs)
            self.checked[query].add(n_epochs)

    def compact(self) -> None:
        """Compact the views and the CDC store; cut one short after its
        folded write, or in its swap with the live store moved aside."""
        name, stage = self.sc.cut_short
        for sink, stores in COMPACTED.items():
            if sink != name:
                getattr(self, sink).compact(self.spark)
                for store in stores:
                    assert os.listdir(self.dir(store)) == ["batch_id=-1"]
                continue
            with pytest.MonkeyPatch.context() as mp:
                if stage == "write":
                    real = sinks.write_epoch
                    mp.setattr(sinks, "write_epoch",
                               lambda *a: (real(*a), _fail(*a)))
                else:
                    mp.setattr(sinks.shutil, "move", _fail)
                with pytest.raises(InjectedFailure):
                    getattr(self, sink).compact(self.spark)
            assert os.path.exists(self.dir(stores[0])) == (stage == "write")

    def inject(self, monkeypatch) -> None:
        """Make the scenario's write raise, before or after it lands."""
        sc = self.sc
        module = {"flagship": spipe, "cdc": scd}.get(
            WRITES[sc.fail_write], sinks)
        real, target = module.write_epoch, self.dir(sc.fail_write)

        def write_epoch(df, path, epoch_id):
            hit = path == target and epoch_id == sc.fail_epoch
            if sc.fail_after or not hit:
                real(df, path, epoch_id)
            if hit:
                _fail(sc.fail_write, epoch_id)

        monkeypatch.setattr(module, "write_epoch", write_epoch)


@settings(max_examples=2, derandomize=True, deadline=None, database=None,
          phases=[Phase.explicit, Phase.generate],
          suppress_health_check=[HealthCheck.too_slow])
@given(sc=scenarios())
# (bounds, newest_first, per_trigger, stop, cut_short, fail_epoch,
#  fail_write, fail_after): CDC fails after its epoch-2 write lands; the
# first scores write fails, so the recent view stays empty; replays of
# the aggregate view and the idempotent sink; every cut-short kind
@example(sc=Scenario((0, 300, 650, 1000), True, 1, 1, ("cdc", "swap"), 2,
                     "cdc", True))
@example(sc=Scenario((0, 500, 1000), False, 1, 0, None, 0, "scores", False))
@example(sc=Scenario((0, 250, 500, 750, 1000), False, 2, 1, ("agg", "swap"),
                     1, "jv/view", True))
@example(sc=Scenario((0, 100, 600, 1000), True, 1, 2, ("jv", "write"), 2,
                     "idem", True))
@example(sc=Scenario((0, 400, 1000), False, 1, 1, ("jv", "swap"), 1, "agg",
                     True))
def test_every_sink_holds_the_committed_prefix(spark, corpus, sc):
    root = tempfile.mkdtemp(prefix="prefix_consistency_")
    n_files, failing = len(sc.bounds) - 1, WRITES[sc.fail_write]
    try:
        rig = Rig(spark, corpus, sc, root)
        with pytest.MonkeyPatch.context() as mp:
            for module in (sinks, spipe):
                mp.setattr(module, "start_foreach_batch",
                           rig.observed(module.start_foreach_batch))
            if sc.stop:
                rig.run(sc.stop * sc.per_trigger)
                for query in QUERIES:
                    rig.check(query, sc.stop)
                rig.compact()
            with mp.context() as failure:
                rig.inject(failure)
                rig.run(n_files, failing)
            # a sink shows the failed epoch only if its write landed: the
            # target's after raising, the other flagship write's always
            for out, (query, store) in OUTPUTS.items():
                landed = (sc.fail_after if store == sc.fail_write
                          else store in ("hist", "scores"))
                rig.compare(out, sc.fail_epoch + landed
                            if query == failing else sc.n_epochs)
            rig.run(n_files)  # the failed epoch replays
            rig.run(n_files)  # idle restart: nothing new to process
        for out in OUTPUTS:
            rig.compare(out, sc.n_epochs)
        # recovery leaves no backup and no folded copy, but a cut-short
        # folded write leaves its copy until the next compaction
        leftovers = glob.glob(f"{root}/*__*") + glob.glob(f"{root}/jv/*__*")
        assert leftovers == ([rig.dir(COMPACTED[sc.cut_short[0]][0])
                              + "__compact"]
                             if sc.cut_short and sc.cut_short[1] == "write"
                             else [])
    finally:
        shutil.rmtree(root, ignore_errors=True)
