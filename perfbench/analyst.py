"""The `analyst_session` workload: a closed loop with one client.

Each query is built through its registry builder and collected to pandas
in turn, over the same seeded tables, pass after pass. The first pass is
set-up: it builds the session's memos and pins. No streaming layer runs
here; `datamodel.enrich` and `plans.approval`, which both stream
workloads also run once per batch, run here over the whole table once
per query.
"""

from __future__ import annotations

import re
import time

import gen
import probe

#: the reference dashboard's ten analyses and the two Postgres views it reads
DASHBOARD = (
    "approval_overview",
    "value_histogram",
    "density_grid",
    "hourly_score_approval",
    "region_approval",
    "denial_reasons",
    "denied_by_modality",
    "tx_per_hour",
    "distance_bucket_pivot",
    "freq_per_payer_hour",
    "perf_stats_by_modality",
    "perf_temporal_hourly",
)
#: the modality x approval contingency family
STATS = (
    "chi2_cells_modality_approval",
    "g_test_modality_approval",
    "cramers_v_modality_approval",
    "mi_modality_approval",
    "naive_bayes_approval",
    "two_proportion_approval_test",
)
FAMILIES = {"dashboard": DASHBOARD, "stats": STATS}
BUILDER_MODULES = {
    "banking_streaming_etl_spark.plans.dashboard",
    "banking_streaming_etl_spark.plans.views",
    "banking_streaming_etl_spark.plans.stats",
}
#: per-query cost on this engine is mostly fixed (planning, job launch);
#: 4k and 20k events gave the same pass times, so the table stays small
N_EVENTS = 20_000
#: a warm pass takes about 15 s on a 4-CPU host; the timed phase runs
#: round(seconds / PASS_S) passes, so runs of one --seconds do equal work
PASS_S = 15.0

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_counts(plan: str) -> tuple[int, int]:
    """Exchange and scan nodes in an executed plan's final form."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = scans = 0
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        exchanges += node in ("Exchange", "BroadcastExchange", "ShuffleExchange")
        scans += "Scan" in node
    return exchanges, scans


class _Collected:
    """A collected result that `oracle.compare` can read like a DataFrame."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf.copy()


class Analyst:
    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.spark, self.work, self.seed, self.trace = spark, work, seed, trace
        self.tables = f"{work}/tables"
        self.runs: list[dict] = []  # timed query runs
        self.passes: list[float] = []
        self.last: dict[str, object] = {}
        self.failed_ops = 0

    def setup(self) -> None:
        from banking_streaming_etl_spark import registry

        gen.write_tables(self.tables, self.seed, N_EVENTS)
        reg = registry.all_queries()
        self.queries = []
        for family, names in FAMILIES.items():
            for name in names:
                q = reg[name]
                if q.fn.__module__ not in BUILDER_MODULES or q.oracle is None:
                    raise RuntimeError(f"{name}: not an oracle-backed registry builder")
                self.queries.append((name, family, q.fn, q.oracle))
        for name, family, fn, _ in self.queries:
            run = self._run(name, family, fn, -1)
            if run["error"]:
                raise RuntimeError(f"{name} failed in the first pass: {run['error']}")

    def _run(self, name, family, fn, pass_no) -> dict:
        run = {"name": name, "family": family, "pass": pass_no, "error": None}
        run["t0"] = time.time()
        try:
            df = fn(self.spark, self.tables)
            run["t1"] = time.time()
            pdf = df.toPandas()
            run["t2"] = time.time()
            self.last[name] = _Collected(pdf)
            if self.trace:
                run["plan"] = plan_counts(df._jdf.queryExecution().executedPlan().toString())
        except Exception as e:  # noqa: BLE001 — a failed query is a failed operation
            run["error"] = f"{type(e).__name__}: {e}"
            run["t1"] = run.get("t1", time.time())
            run["t2"] = time.time()
        return run

    def measure(self, seconds: float) -> None:
        t_begin = time.time()
        for pass_no in range(max(1, round(seconds / PASS_S))):
            t = time.time()
            for name, family, fn, _ in self.queries:
                run = self._run(name, family, fn, pass_no)
                self.failed_ops += run["error"] is not None
                self.runs.append(run)
            self.passes.append(time.time() - t)
        self.elapsed = time.time() - t_begin

    def attempted(self) -> int:
        return len(self.runs)

    def check(self) -> list[tuple[str, bool, str]]:
        """Each query's last collected result against its oracle SQL in
        DuckDB, bit-strict (`oracle.compare`)."""
        import duckdb

        from banking_streaming_etl_spark import oracle

        con = duckdb.connect()
        for t in ("events", "customer", "nation", "region"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
        out = []
        for name, _, _, sql in self.queries:
            if name not in self.last:
                out.append((f"{name}.oracle", False, "no result"))
                continue
            r = oracle.compare(self.last[name], con, sql)
            detail = f"{r['spark_rows']} rows" if r["match"] else str(r.get("first_diff") or r.get("err") or r)[:300]
            out.append((f"{name}.oracle", bool(r["match"]), detail))
        con.close()
        return out

    def end_to_end(self) -> dict:
        ok = [r for r in self.runs if not r["error"]]
        q_s = [r["t2"] - r["t0"] for r in ok]
        tail = probe.ptail(q_s)
        return {
            "latency_ms_p50": (1000.0 * probe.p50(q_s), "ms"),
            "throughput_per_s": (len(ok) / self.elapsed, "1/s"),
        }, [
            ("refresh_s_p50", probe.p50(self.passes), "s", f"n={len(self.passes)} passes of {len(self.queries)} queries"),
            ("query_s_p50", probe.p50(q_s), "s", f"n={len(q_s)}"),
            ("query_s_ptail", tail[0], "s", f"p{tail[1]} of n={tail[2]}"),
        ]

    def per_layer(self, jobs: list[dict], stages: dict) -> dict:
        out = {}
        for family in FAMILIES:
            per_pass: dict[int, dict[str, float]] = {}
            for r in self.runs:
                if r["family"] != family or r["error"]:
                    continue
                acc = per_pass.setdefault(r["pass"], dict.fromkeys(
                    ("build_s", "action_s", "jobs", "stages", "shuffle_bytes", "spill_bytes", "exchanges", "scans"), 0.0))
                js = probe.jobs_in(jobs, r["t0"], r["t2"])
                totals = probe.stage_totals(js, stages)
                acc["build_s"] += r["t1"] - r["t0"]
                acc["action_s"] += r["t2"] - r["t1"]
                acc["jobs"] += len(js)
                for k in ("stages", "shuffle_bytes", "spill_bytes"):
                    acc[k] += totals[k]
                ex, sc = r.get("plan", (0, 0))
                acc["exchanges"] += ex
                acc["scans"] += sc
            for k in ("build_s", "action_s", "jobs", "stages", "shuffle_bytes", "spill_bytes", "exchanges", "scans"):
                out[f"plans.{family}.{k}"] = float(probe.p50([p[k] for p in per_pass.values()]))
        return out

    def layer_costs(self) -> dict:
        return {}

    def close(self) -> None:
        pass

    def spans(self, tracer: probe.Tracer, jobs: list[dict]) -> list[tuple[str, bool, str]]:
        for r in self.runs:
            trace = f"q{r['pass']}-{r['name']}"
            root = tracer.add(trace, "query", "analyst", r["t0"], r["t2"])
            for name, lo, hi in (("build", r["t0"], r["t1"]), ("action", r["t1"], r["t2"])):
                sid = tracer.add(trace, name, f"plans.{name}", lo, hi, root)
                for j in probe.jobs_in(jobs, lo, hi):
                    end = j.get("completionTime") or j["submissionTime"]
                    tracer.add(trace, f"job-{j['jobId']}", "spark", j["submissionTime"] / 1000.0, end / 1000.0, sid)
        return []
