"""The traced passes: spans, py4j counts and status-store metrics per query.

Around every query the listener bus is drained so the status store has
seen each execution: executions started during construction are the
eager ones, and every execution from construction to the end of the
sink write is folded into the per-layer executor metrics, the bytes and
files the feature-layer writes produced among them.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path

import spans
import status
from workloads import UPSERT_KEYS


class TracedPasses:
    def __init__(self, bench) -> None:
        self.bench = bench
        spark = bench.spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        spans.count_py4j(spark.sparkContext._gateway._gateway_client, bench.rec)
        self.referenced: set[str] = set()
        for q in bench.queries.values():
            self.referenced |= spans.referenced_wrappers(q.spark_fn)
        self.totals: dict[str, float] = defaultdict(float)
        self.eager = 0
        self.result_rows = 0
        self.write_s = 0.0

    def _count(self) -> int:
        self.bus.waitUntilEmpty()
        return self.store.executionsCount()

    def before_construct(self) -> None:
        self.first = self._count()

    def after_construct(self) -> None:
        self.eager += self._count() - self.first

    def after_exec(self, name: str, write_s: float) -> None:
        executions = status.read_new_executions(
            self.store, self.first, self._count() - self.first
        )
        for key, value in status.summarize(executions, self.bench.rec.udf_layers).items():
            self.totals[key] += value
        self.result_rows += self.bench.result_rows.get(name, 0)
        if name in UPSERT_KEYS:
            self.write_s += write_s

    def metrics(self, untraced: dict, traced: dict, passes: int) -> dict[str, float]:
        """Per-pass per-layer metrics; exits if a span silently missed."""
        rec = self.bench.rec
        misses = spans.silent_misses(self.referenced, rec)
        if misses:
            raise SystemExit(
                f"traced run: the queries call into {misses} but no wrapped "
                "function there recorded a call"
            )
        per = 1 / passes
        out: dict[str, float] = {}
        for layer in spans.SPAN_LAYERS:
            out[f"{layer}.construct_self_s"] = rec.self_s.get(layer, 0.0) * per
            out[f"{layer}.calls"] = rec.calls.get(layer, 0) * per
            out[f"{layer}.py4j_calls"] = rec.py4j_calls.get(layer, 0) * per
        out["plans.eager_executions"] = self.eager * per
        for key, value in self.totals.items():
            out[key] = value * per
        for layer in status.UDF_LAYERS:
            rows_in = self.totals.get(f"{layer}.udf_rows_in", 0.0)
            out[f"{layer}.rows_per_result"] = rows_in / max(self.result_rows, 1)
        layer_bytes = data_bytes(self.bench.sink_root)
        out["sinks.write_s"] = self.write_s * per
        out["sinks.write_amplification"] = (
            out.get("sinks.bytes_written", 0.0) / layer_bytes if layer_bytes else 0.0
        )
        out["session.probe_s"] = statistics.median(self.bench.probes)
        out["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
        return out


def data_bytes(path: Path) -> int:
    """Total bytes of the data files under ``path``: those a reader
    lists, not ``_SUCCESS`` markers or ``.crc`` checksums."""
    return sum(p.stat().st_size for p in path.rglob("*")
               if p.is_file() and not p.name.startswith(("_", ".")))
