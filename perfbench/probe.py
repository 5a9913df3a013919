"""Measurement helpers: percentiles, spans, Spark's status store, the
driver JVM's memory, and the host record.

Nothing here imports the package under test, so the benchmark's own
tests can exercise these helpers without a Spark session.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

# --- percentiles -------------------------------------------------------------


def p50(values):
    return statistics.median(values) if values else 0.0


def ptail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). Below 20 samples that percentile
    would sit at or under the median, so the maximum is reported with
    percentile 100 instead."""
    n = len(values)
    if n == 0:
        return 0.0, 0, 0
    s = sorted(values)
    if n < 20:
        return s[-1], 100, n
    return s[n - 11], math.floor(100 * (n - 10) / n), n


# --- spans -------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A span is (trace, name, layer, start, end, parent); times are wall
    clock seconds so that they line up with Spark's own timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, trace, name, layer, start, end, parent=None) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "trace": trace,
                "name": name,
                "layer": layer,
                "start": start,
                "end": end,
                "parent": parent,
            }
        )
        return len(self.spans) - 1

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover,
        summed per layer."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- Spark status store --------------------------------------------------------


class StatusStore:
    """Reads Spark's application status store in one py4j call per list,
    serialised to JSON inside the JVM."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._jvm = jvm

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        rows = self._json(
            self._store.stageList(
                None, False, False, empty, self._jvm.java.util.ArrayList()
            )
        )
        return {s["stageId"]: s for s in rows}

    def gc_ms(self) -> int:
        return sum(e["totalGCTime"] for e in self._json(self._store.executorList(True)))

    def pinned(self) -> tuple[int, int]:
        """(persistent RDD count, bytes those RDDs hold in memory and on disk)."""
        n = self._sc._jsc.getPersistentRDDs().size()
        rdds = self._json(self._store.rddList(True))
        return n, sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted within [start, end] (wall clock seconds)."""
    lo, hi = start * 1000.0, end * 1000.0
    return [j for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] <= hi]


def stage_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, int]:
    """Stages that ran for these jobs and their shuffle and spill bytes.

    A stage a job skipped (its shuffle output was reused) is not counted."""
    ids = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    ran = [stages[s] for s in ids if stages[s].get("status") != "SKIPPED"]
    return {
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "shuffle_bytes": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
    }


# --- process and host ------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def other_spark_jvms(own_pid: int) -> int:
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == own_pid:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


#: steal share above which a phase is not clean: in ten backlog runs on a
#: 4-CPU host, the five with steal of 0.85% or more had a batch p50
#: 10-15% above the five with 0.7% or less. The run's own load makes
#: loadavg no test of other tenants.
STEAL_CLEAN = 0.01


class HostRecord:
    """Steal time, load and competing Spark JVMs over one timed phase.

    Steal is the share of all CPU time between construction and `end`, so
    a burst anywhere in the phase shows; load and JVM count are the larger
    of the two readings."""

    def __init__(self, own_jvm_pid: int) -> None:
        self._pid = own_jvm_pid
        self._t0 = _cpu_times()
        self._jvms = other_spark_jvms(own_jvm_pid)
        self._load = os.getloadavg()[0]
        self._wall = time.time()

    def end(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        jvms = max(self._jvms, other_spark_jvms(self._pid))
        load = max(self._load, os.getloadavg()[0])
        return {
            "phase_s": round(time.time() - self._wall, 3),
            "steal_pct": round(100.0 * steal / total, 3),
            "loadavg_1m_max": load,
            "other_spark_jvms": jvms,
            "nproc": os.cpu_count(),
            "clean": steal / total < STEAL_CLEAN and jvms == 0,
        }
