"""Benchmark: one named workload of registered queries as a closed loop.

Usage (from the repository root):
  python3 perfbench/run.py --workload geo_ingest --seed 1 --seconds 15 --trace 0

One driver thread issues one query at a time: construct it, materialize
it (the ``noop`` sink, or an upsert into a feature layer for the queries
in ``workloads.UPSERT_KEYS``), wait, then issue the next. The input
tables are fixed (``sf0.01/``); the seed sets a fresh query order for
every pass. A cold correctness pass first checks every result against
its DuckDB oracle; timed passes then fill ``--seconds``. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` untraced and traced passes alternate and the last line
carries the per-layer metrics (README.md).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE_DIR = ROOT / "terra_bonobo_nodes_spark"
# copies of the repository's scale-factor-0.01 test tables (README.md)
DATA_DIR = HERE / "sf0.01"

from spans import SPAN_LAYERS  # noqa: E402
from status import UDF_LAYERS  # noqa: E402
from workloads import UPSERT_KEYS, WORKLOADS  # noqa: E402

SESSION_METRICS = {
    "shuffle_bytes": "B", "shuffle_records": "count", "shuffle_write_s": "s",
    "fetch_wait_s": "s", "exchanges": "count", "spill_bytes": "B",
    "agg_peak_memory_bytes": "B", "broadcast_build_s": "s",
    "python_worker_start_s": "s", "probe_s": "s",
}
# Untimed passes after the correctness pass. With the JVM held to its
# first-tier compiler (``pin_environment``), pass times are level from
# the first warm pass on.
WARM_PASSES = 1
END_TO_END = {
    "wall_per_probe": "ratio", "construct_per_probe": "ratio", "exec_per_probe": "ratio",
    "setup_s": "s", "ok_frac": "ratio", "peak_rss_mb": "MB",
}


def median_sums(samples: dict[str, list[tuple[float, float, float]]],
                per_probe: bool) -> tuple[float, float, float]:
    """Sums over the queries of each query's median construct, exec and
    construct+exec time. A sample is ``(construct_s, exec_s, probe_s)``;
    with ``per_probe`` it is first divided by the probe timed just
    before its pass."""
    construct = execute = wall = 0.0
    for qs in samples.values():
        if not qs:
            continue
        scaled = [(c / p, e / p) if per_probe else (c, e) for c, e, p in qs]
        construct += statistics.median(c for c, _ in scaled)
        execute += statistics.median(e for _, e in scaled)
        wall += statistics.median(c + e for c, e in scaled)
    return construct, execute, wall


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units: dict[str, str] = {}
    for layer in SPAN_LAYERS:
        units.update({f"{layer}.construct_self_s": "s", f"{layer}.calls": "count",
                      f"{layer}.py4j_calls": "count"})
    units["plans.eager_executions"] = "count"
    for layer in UDF_LAYERS:
        units.update({f"{layer}.udf_worker_s": "s", f"{layer}.udf_bytes_sent": "B",
                      f"{layer}.udf_bytes_returned": "B", f"{layer}.udf_nodes": "count",
                      f"{layer}.rows_per_result": "ratio"})
    units.update({"sinks.write_s": "s", "sinks.bytes_written": "B",
                  "sinks.files_written": "count", "sinks.write_amplification": "ratio",
                  "tables.scan_s": "s", "tables.scan_bytes": "B",
                  "tables.files_read": "count"})
    units.update({f"session.{k}": u for k, u in SESSION_METRICS.items()})
    units["trace.overhead_s"] = "s"
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: Path) -> dict[str, str]:
    """Cores, driver heap and every scratch directory of the run, set
    before the JVM starts; returned for the artifact."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gib = min(4, max(2, mem_kib // (8 << 20)))
    tmp = run_dir / "tmp"
    for sub in ("tmp", "local", "warehouse", "sink"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    # The heap starts at its full size and resident, so the JVM's
    # resident peak does not depend on how much of it the collector
    # happened to touch. Only the first-tier (C1) compiler runs: with the
    # optimizing tier, pass times kept falling for eight or more passes
    # while it compiled the planner, by up to 1.6x, and how far a run
    # got down that slope set most of its spread.
    java_opts = (f"-Xms{heap_gib}g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(tmp),
        # the short-lived JVM that spark-submit starts to build the command
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"),
                "--conf", "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(env)
    return env


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kib = next(line for line in f if line.startswith("VmHWM")).split()[1]
    return int(kib) / 1024


def reset_vm_hwm() -> None:
    """Restart this process's VmHWM from its current resident size."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def staging_leftovers(root: Path) -> list[str]:
    return sorted(p.name for p in root.iterdir()
                  if p.name.endswith("__next__") or p.name.endswith("__old__"))


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: Path) -> None:
        self.args = args
        self.run_dir = run_dir
        self.names = WORKLOADS[args.workload]
        self.sink_root = run_dir / "sink"
        self.attempted = 0
        self.failures: list[str] = []
        self.result_rows: dict[str, int] = {}
        self.cold_s: dict[str, float] = {}
        self.probes: list[float] = []

    # -- one query ----------------------------------------------------
    def release_all_state(self) -> None:
        # cached DataFrames and localCheckpoint RDDs, as bench.py does
        self.spark.catalog.clearCache()
        for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)

    def upsert(self, name: str, df):
        """Upsert ``df`` into its feature layer; return the seconds the
        write took and the layer read back."""
        from terra_bonobo_nodes_spark.sinks.feature_layer import (
            load_feature_in_layer,
            read_layer,
        )

        t0 = time.perf_counter()
        load_feature_in_layer(df, str(self.sink_root), name,
                              identifier_col=UPSERT_KEYS[name])
        write_s = time.perf_counter() - t0
        leftovers = staging_leftovers(self.sink_root)
        if leftovers:
            raise RuntimeError(f"staging directories left behind: {leftovers}")
        return write_s, read_layer(self.spark, str(self.sink_root), name)

    def materialize(self, name: str, df) -> float:
        """Run ``df`` to completion; return seconds spent in the sink
        write for upserted queries, else 0."""
        if name not in UPSERT_KEYS:
            df.write.format("noop").mode("overwrite").save()
            return 0.0
        write_s, layer = self.upsert(name, df)
        layer.write.format("noop").mode("overwrite").save()
        return write_s

    def correctness_pass(self, order: list[str]) -> float:
        """Collect every query, compare with its oracle (and, for upserted
        queries, the read-back layer with the batch). Returns the Spark-side
        seconds, which count towards set-up."""
        spark_s = 0.0
        for name in order:
            q = self.queries[name]
            self.attempted += 1
            try:
                self.release_all_state()
                t0 = time.perf_counter()
                df = q.spark_fn(self.spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
                self.cold_s[name] = time.perf_counter() - t0
                spark_s += self.cold_s[name]
                self.result_rows[name] = len(rows)
                got = self.oracle.digest(df.columns, rows)
                reason = self.oracle.mismatch(got, self.oracle.expected(q.oracle))
                if reason is None and name in UPSERT_KEYS:
                    t0 = time.perf_counter()
                    _, layer = self.upsert(name, df)
                    back = [tuple(r) for r in layer.select(*df.columns).collect()]
                    spark_s += time.perf_counter() - t0
                    reason = self.oracle.mismatch(self.oracle.digest(df.columns, back), got)
                    if reason:
                        reason = f"read-back layer: {reason}"
                if reason:
                    self.failures.append(f"{name}: {reason}")
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
        return spark_s

    # -- timed passes ---------------------------------------------------
    def order(self, pass_no: int) -> list[str]:
        order = list(self.names)
        random.Random(self.args.seed * 1_000_003 + pass_no).shuffle(order)
        return order

    def timed_pass(self, pass_no: int, samples: dict, traced=None) -> None:
        for name in self.order(pass_no):
            q = self.queries[name]
            self.attempted += 1
            try:
                self.release_all_state()
                if traced:
                    traced.before_construct()
                t0 = time.perf_counter()
                with self.rec.span("plans"):
                    df = q.spark_fn(self.spark, self.data_dir)
                construct_s = time.perf_counter() - t0
                if traced:
                    traced.after_construct()
                t1 = time.perf_counter()
                write_s = self.materialize(name, df)
                exec_s = time.perf_counter() - t1
                if traced:
                    traced.after_exec(name, write_s)
                samples[name].append((construct_s, exec_s,
                                      self.probes[-1] if self.probes else float("nan")))
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}")

    def run_passes(self, seconds: float, traced=None) -> tuple[dict, dict, int]:
        """As many whole untraced passes as fit in ``seconds``, judged by
        the last pass's length, and at least three, so that one slow
        pass cannot set a query's median. With ``traced``, each untraced pass is paired
        with a traced one, the traced one first in every other pair, so
        both sides see the same warm-up."""
        samples: dict[str, list[tuple[float, float, float]]] = defaultdict(list)
        traced_samples: dict[str, list[tuple[float, float, float]]] = defaultdict(list)
        from probe import Probe

        probe = Probe(self.spark)
        probe()  # warms the probe's own codegen
        spent, last, done, pass_no = 0.0, 0.0, 0, 1
        while done < 3 or spent + last <= seconds:
            if traced and done % 2:
                self.traced_pass(pass_no, traced_samples, traced)
                pass_no += 1
            self.probes.append(probe())
            start = time.perf_counter()
            self.timed_pass(pass_no, samples)
            last = time.perf_counter() - start
            spent += last
            done += 1
            pass_no += 1
            if traced and done % 2:
                self.traced_pass(pass_no, traced_samples, traced)
                pass_no += 1
        return samples, traced_samples, done

    def traced_pass(self, pass_no: int, samples: dict, traced) -> None:
        self.rec.active = True
        self.timed_pass(pass_no, samples, traced)
        self.rec.active = False

    # -- whole run ------------------------------------------------------
    def run(self) -> dict:
        self.env = pin_environment(self.run_dir)
        self.data_dir = str(DATA_DIR)

        import spans
        from terra_bonobo_nodes_spark.session import get_spark

        self.spark = get_spark("perfbench")
        try:
            self.rec = spans.Recorder()
            if self.args.trace:
                # some layer modules build UDFs at import, which needs a session
                spans.install(self.rec)
            from terra_bonobo_nodes_spark.plans.registry import all_queries

            registry = all_queries()
            self.queries = {n: registry[n] for n in self.names}
            return self._measure(time.perf_counter() - T0)
        finally:
            self.stop()

    def _measure(self, to_session_s: float) -> dict:
        from check import Oracle

        t0 = time.perf_counter()
        self.oracle = Oracle(ROOT, self.data_dir)
        try:
            cold_s = self.correctness_pass(self.order(0))
        finally:
            self.oracle.close()
        checked_s = time.perf_counter() - t0
        # the oracles ran in this process; from here on its peak is the
        # program's driver side only
        reset_vm_hwm()
        t0 = time.perf_counter()
        for pass_no in range(-WARM_PASSES, 0):
            self.timed_pass(pass_no, defaultdict(list))
        warm_s = time.perf_counter() - t0
        setup_s = to_session_s + cold_s + warm_s
        self.phases = {"to_session_s": to_session_s, "cold_spark_s": cold_s,
                       "cold_oracle_s": checked_s - cold_s, "warm_s": warm_s}
        t0 = time.perf_counter()
        if self.args.trace:
            from traced import TracedPasses

            traced = TracedPasses(self)
            # half the time for each side, so a traced run is about as
            # long as an untraced one
            samples, traced_samples, n = self.run_passes(self.args.seconds / 2, traced)
            untraced = self.end_to_end(samples, setup_s)
            metrics = traced.metrics(untraced, self.end_to_end(traced_samples, setup_s), n)
            units = per_layer_units()
        else:
            samples, _, n = self.run_passes(self.args.seconds)
            metrics = untraced = self.end_to_end(samples, setup_s)
            units = END_TO_END
        self.phases["timed_s"] = time.perf_counter() - t0
        self.log_artifact(samples, n, untraced)
        failed = len(self.failures)
        return {
            "correct": failed == 0 and all(samples.get(q) for q in self.names),
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                        for k, u in units.items()},
        }

    def end_to_end(self, samples: dict, setup_s: float) -> dict[str, float]:
        """The end-to-end metrics, plus the undivided ``wall_s``,
        ``construct_s`` and ``exec_s`` for the run context."""
        raw, per_probe = median_sums(samples, False), median_sums(samples, True)
        return {
            "construct_per_probe": per_probe[0], "exec_per_probe": per_probe[1],
            "wall_per_probe": per_probe[2],
            "construct_s": raw[0], "exec_s": raw[1], "wall_s": raw[2],
            "setup_s": setup_s,
            "ok_frac": 1 - len(self.failures) / self.attempted,
            "peak_rss_mb": sum(self.peak_rss_mb().values()),
        }

    def peak_rss_mb(self) -> dict[str, float]:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return {"jvm": vm_hwm_mb(jvm_pid), "driver": vm_hwm_mb(os.getpid())}

    def log_artifact(self, samples: dict, passes: int, untraced: dict) -> None:
        """Run context on stdout ahead of the result line."""
        for failure in self.failures:
            print(f"# FAILED {failure}", file=sys.stderr)
        print(json.dumps({
            "workload": self.args.workload, "seed": self.args.seed,
            "timed_passes": passes, "env": self.env,
            "phases_s": {k: round(v, 3) for k, v in self.phases.items()},
            "data": str(DATA_DIR.relative_to(ROOT)),
            "result_rows": self.result_rows,
            "peak_rss_mb": self.peak_rss_mb(),
            "cold_collect_s": {q: round(s, 4) for q, s in self.cold_s.items()},
            "probe_s": [round(p, 4) for p in self.probes],
            "seconds": {k: untraced[k] for k in ("wall_s", "construct_s", "exec_s")},
            "query_samples_s": {q: [[round(c, 4), round(e, 4)] for c, e, _ in s]
                                for q, s in samples.items()},
        }))

    def stop(self) -> None:
        """Stop Spark, the gateway JVM and its Python workers; wait for
        every one of them to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        jvm_pid = proc.pid if proc is not None else None
        workers = descendants(jvm_pid) if jvm_pid else []
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(workers + descendants(os.getpid()), timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not PACKAGE_DIR.is_dir() or not (ROOT / "tests" / "check_driver.py").is_file():
        print(f"perfbench: no terra_bonobo_nodes_spark package or tests/check_driver.py "
              f"under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    run_dir = ROOT / ".perfbench_run" / str(os.getpid())
    try:
        result = Bench(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
