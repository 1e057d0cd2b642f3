"""Tests of the benchmark's own code: metric extraction, UDF attribution,
span arithmetic, sink write sizes, the result comparator and the host-load
probe.

Run from the repository root:  python3 -m pytest perfbench -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import status  # noqa: E402
import traced  # noqa: E402


# -- metric strings -------------------------------------------------------


def test_parse_metric_units():
    assert status.parse_metric("10,000", "sum") == 10000
    assert status.parse_metric("467.0 B", "size") == 467
    assert status.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (0.5 KiB, 1.0 KiB, 1.0 KiB "
        "(stage 0.0: task 1))", "size") == 1536
    assert status.parse_metric("9 ms", "timing") == pytest.approx(0.009)
    assert status.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.1 m (1 ms, 2 ms, 3 ms (stage 1.0: "
        "task 4))", "nsTiming") == pytest.approx(126.0)
    with pytest.raises(ValueError):
        status.parse_metric("1", "average")


# -- UDF attribution --------------------------------------------------------

INDEX = {"_st_point": {"geo"}, "_shingles": {"llm"}, "_both": {"geo", "llm"},
         "_parse": {"sources"}}


def test_udf_calls_skip_builtins_nested_in_arguments():
    desc = ("ArrowEvalPython [_st_point(cast(x#1 as double), coalesce(y#2, 0.0))#10, "
            "_shingles(text#3)#11], [pythonUDF0#20, pythonUDF1#21], 200")
    assert status.udf_calls(desc) == ["_st_point", "_shingles"]


@pytest.mark.parametrize("desc, layer", [
    ("ArrowEvalPython [_st_point(x#1, y#2)#10], [pythonUDF0#20], 200", "geo"),
    ("MapInPandas _parse(content#4)#12, [doc#5], false", "sources"),
    ("ArrowEvalPython [_st_point(x#1, y#2)#10, _shingles(t#3)#11], [p0#20], 200",
     "plans"),
    ("ArrowEvalPython [_both(x#1)#10], [pythonUDF0#20], 200", "plans"),
    ("ArrowEvalPython [pack(x#1)#10], [pythonUDF0#20], 200", "plans"),
])
def test_attribute_udf(desc, layer):
    assert status.attribute_udf(desc, INDEX) == layer


def test_udfs_built_at_run_time_are_credited_to_their_module(monkeypatch):
    from pyspark.sql.udf import UserDefinedFunction

    monkeypatch.setattr(UserDefinedFunction, "__init__", UserDefinedFunction.__init__)
    rec = spans.Recorder()
    spans.record_udfs(rec)
    namespace = {"__name__": spans.PACKAGE + ".llm.fake"}
    exec("def udf(s):\n    return s\n", namespace)
    UserDefinedFunction(namespace["udf"], "long")
    UserDefinedFunction(lambda s: s, "long", name="outside")
    assert rec.udf_layers == {"udf": {"llm"}}


# -- spans --------------------------------------------------------------------


def test_self_time_subtracts_nested_children(monkeypatch):
    clock = iter([0.0, 1.0, 2.0, 5.0, 6.0, 7.0, 8.0, 10.0])
    monkeypatch.setattr(spans.time, "perf_counter", lambda: next(clock))
    rec = spans.Recorder()
    rec.enter("plans")          # 0
    rec.enter("operators")      # 1
    rec.enter("geo")            # 2
    rec.exit("geo.kernels.f")   # 5: geo 3s, no children
    rec.exit()                  # 6: operators 5s, 3s of it in geo
    rec.enter("operators")      # 7
    rec.exit()                  # 8: operators 1s
    rec.exit()                  # 10: plans 10s, 6s of it in operators
    assert rec.self_s == {"geo": 3.0, "operators": 3.0, "plans": 4.0}
    assert rec.calls == {"geo": 1, "operators": 2, "plans": 1}
    assert rec.function_calls == {"geo.kernels.f": 1}


def test_py4j_calls_go_to_the_innermost_open_span():
    sent = []
    client = types.SimpleNamespace(send_command=lambda cmd: sent.append(cmd) or "ok")
    rec = spans.Recorder()
    spans.count_py4j(client, rec)
    client.send_command("ignored: recorder off")
    rec.active = True
    client.send_command("ignored: no span open")
    with rec.span("plans"):
        client.send_command("a")
        with rec.span("tables"):
            client.send_command("b")
            client.send_command("c")
    assert len(sent) == 5
    assert rec.py4j_calls == {"plans": 1, "tables": 2}


def _fake_module(name: str) -> types.ModuleType:
    module = types.ModuleType(name)
    exec("def used(x):\n    return x + 1\n\ndef unused(x):\n    return x\n", vars(module))
    for fn in ("used", "unused"):
        vars(module)[fn].__module__ = name
    return module


def test_wrappers_record_calls_and_silent_misses_are_reported(monkeypatch):
    name = spans.PACKAGE + ".geo.fake"
    module = _fake_module(name)
    monkeypatch.setitem(sys.modules, name, module)
    rec = spans.Recorder()
    originals = {}
    for fn_name in ("used", "unused"):
        fn = vars(module)[fn_name]
        originals[id(fn)] = spans._wrap(fn, "geo", f"{name}.{fn_name}", rec)
    user = types.ModuleType("queries_fake")
    vars(user)["used"] = module.used  # a ``from ... import used`` copy
    monkeypatch.setitem(sys.modules, spans.PACKAGE + ".plans.fake", user)
    spans._rebind(originals)
    assert module.used is user.used and hasattr(user.used, "__perfbench_key__")

    def query(x):
        return used(x)  # noqa: F821 - resolved in the globals below

    query = types.FunctionType(query.__code__, vars(user))
    referenced = spans.referenced_wrappers(query)
    assert referenced == {f"{name}.used"}
    assert spans.silent_misses(referenced, rec) == [name]
    rec.active = True
    assert query(1) == 2
    assert spans.silent_misses(referenced, rec) == []
    assert rec.calls == {"geo": 1}


# -- status store (Spark) -------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[2]").appName("perfbench-test")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.sql.adaptive.enabled", "false")
               .getOrCreate())
    yield session
    session.stop()


def test_probe_runs_its_pandas_udf_in_the_python_workers(spark):
    # the workers cannot import the probe's module, so its UDF must
    # travel by value
    assert probe.Probe(spark)() > 0


def _executions_of(spark, action) -> list[list[status.Node]]:
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    first = store.executionsCount()
    action()
    bus.waitUntilEmpty()
    return status.read_new_executions(store, first, store.executionsCount() - first)


def test_status_store_toy_aggregate(spark):
    from pyspark.sql import functions as F

    df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id"))
    executions = _executions_of(
        spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert len(executions) == 1
    out = status.summarize(executions, {})
    assert out["session.exchanges"] == 1
    # two range partitions, each pre-aggregated to its seven keys
    assert out["session.shuffle_records"] == 14
    assert out["session.shuffle_bytes"] > 0
    assert out["session.agg_peak_memory_bytes"] > 0
    assert not any(k.endswith("udf_nodes") for k in out)


def test_status_store_toy_pandas_udf(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _st_point(s: pd.Series) -> pd.Series:
        return s * 2.0

    df = spark.range(1000).select(_st_point(F.col("id").cast("double")).alias("v"))
    executions = _executions_of(
        spark, lambda: df.write.format("noop").mode("overwrite").save())
    out = status.summarize(executions, INDEX)
    assert out["geo.udf_nodes"] == 1
    assert out["geo.udf_rows_in"] == 1000
    assert out["geo.udf_bytes_sent"] > 0 and out["geo.udf_bytes_returned"] > 0
    assert out["geo.udf_worker_s"] >= 0 and out["session.python_worker_start_s"] >= 0
    assert "llm.udf_nodes" not in out and "plans.udf_nodes" not in out


def test_status_store_toy_parquet_write(spark, tmp_path):
    """Bytes and files come from the write command, so a rewrite is
    counted again and an untouched file is not."""
    target = tmp_path / "layer"
    df = spark.range(20_000).selectExpr("id", "cast(id * 3 as string) AS s").repartition(3)
    executions = _executions_of(spark, lambda: df.write.mode("overwrite").parquet(str(target)))
    out = status.summarize(executions, {})
    parts = [f for f in target.iterdir() if f.name.startswith("part-")]
    assert out["sinks.files_written"] == len(parts) == 3
    on_disk = traced.data_bytes(target)
    assert on_disk == sum(f.stat().st_size for f in parts)
    # the status store shows sizes to one decimal of their unit
    assert out["sinks.bytes_written"] == pytest.approx(on_disk, rel=0.01)
    appended = _executions_of(
        spark, lambda: df.limit(10).write.mode("append").parquet(str(target)))
    out = status.summarize(appended, {})
    assert out["sinks.files_written"] == 1
    assert out["sinks.bytes_written"] < on_disk / 3


# -- correctness comparator ------------------------------------------------------


@pytest.fixture(scope="module")
def oracle():
    o = check.Oracle(ROOT, str(run.DATA_DIR))
    yield o
    o.close()


def test_digest_ignores_row_and_column_order(oracle):
    a = oracle.digest(["k", "v"], [(1, 0.5), (2, None)])
    b = oracle.digest(["v", "k"], [(None, 2), (0.5, 1)])
    assert oracle.mismatch(a, b) is None


def test_mismatch_names_the_first_difference(oracle):
    base = oracle.digest(["k", "v"], [(1, 0.5), (2, 1.5)])
    assert oracle.mismatch(oracle.digest(["k", "v"], [(1, 0.5)]), base).startswith("rows")
    assert oracle.mismatch(oracle.digest(["k", "w"], [(1, 0.5), (2, 1.5)]),
                           base).startswith("columns")
    assert oracle.mismatch(oracle.digest(["k", "v"], [(1, 0.5), (2, 1.6)]),
                           base) == "value hash mismatch"


def test_oracle_sql_runs_on_the_benchmark_tables(oracle):
    import pyarrow.parquet as pq

    region = pq.read_table(run.DATA_DIR / "region.parquet").to_pydict()
    want = oracle.expected("SELECT r_regionkey, r_name FROM region")
    got = oracle.digest(["r_name", "r_regionkey"],
                        list(zip(region["r_name"], region["r_regionkey"])))
    assert oracle.mismatch(got, want) is None


# -- benchmark definition ----------------------------------------------------------


def test_median_sums_divide_each_sample_by_its_pass_probe():
    samples = {"a": [(1.0, 3.0, 1.0), (2.0, 6.0, 2.0), (9.0, 9.0, 1.0)],
               "b": [(0.5, 0.5, 0.5)]}
    assert run.median_sums(samples, per_probe=False) == (2.5, 6.5, 9.0)
    assert run.median_sums(samples, per_probe=True) == (2.0, 4.0, 6.0)


def test_benchmark_json_matches_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
