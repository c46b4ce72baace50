"""Self-tests of the benchmark harness, on tiny generated input.

    python3 -m pytest perfbench/test_harness.py -q     (from the repo root)

They cover the percentile rule, self time, ``session.objects_growth`` and
failure counting with fake queries that are passed to the harness and
never registered in the engine.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import harness  # noqa: E402
import spans  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert spans.tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert spans.tail_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    assert spans.tail_percentile([float(i) for i in range(1, 41)]) == (75.0, 30.0)
    assert spans.tail_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    assert spans.tail_percentile([float(i) for i in range(1, 20)]) is None


def test_self_time_is_span_minus_union_of_children():
    parent = spans.Span("build", 0.0, 10.0)
    for s, e in [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]:
        parent.children.append(spans.Span("job", s, e))
    # children cover [1, 5] and, clipped to the parent, [8, 10]
    assert parent.self_time() == pytest.approx(4.0)
    assert spans.Span("write", 0.0, 2.0).self_time() == pytest.approx(2.0)


def test_exclusive_time_counts_overlapping_siblings_once():
    root = spans.Span("pass", 0.0, 10.0)
    write = spans.Span("write", 1.0, 9.0)
    root.children.append(write)
    write.children += [spans.Span("job", 2.0, 6.0), spans.Span("job", 4.0, 8.0)]
    by_kind = spans.exclusive_time_by_kind(root)
    assert by_kind == pytest.approx({"pass": 2.0, "write": 2.0, "job": 6.0})
    assert sum(by_kind.values()) == pytest.approx(root.duration)


def test_attach_prefers_job_group_then_time():
    q = spans.Span("query", 0.0, 10.0)
    build = spans.Span("build", 1.0, 4.0, attrs={"job_group": "g1"})
    write = spans.Span("write", 5.0, 9.0, attrs={"job_group": "g2"})
    q.children += [build, write]
    by_group = spans.Span("job", 5.5, 6.0, attrs={"job_group": "g1"})
    by_time = spans.Span("job", 6.0, 7.0, attrs={"job_group": None})
    spans.attach(q, [by_group, by_time])
    assert build.children == [by_group]
    assert write.children == [by_time]


def test_parse_metric_totals():
    assert spans.parse_metric("10") == 10
    assert spans.parse_metric("1,234") == 1234
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n"
                              "32.0 B (16.0 B, 16.0 B, 16.0 B (stage 0.0: task 0))") == 32
    assert spans.parse_metric("1.5 KiB") == 1536


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("perfbench")
    os.environ.update({
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_WAREHOUSE": str(tmp / "warehouse"),
        "SPARK_LOCAL_DIRS": str(tmp / "local"),
    })
    data = str(tmp / "data")
    gen.generate(data, seed=7, scale=0.05)
    return data


def _fail(spark, sf_dir):
    raise RuntimeError("deliberate failure")


def _wrong(spark, sf_dir):
    return spark.range(3)


def test_objects_growth(spark_env):
    spark, _, _ = harness.setup_once("perfbench-test")
    before = harness.session_objects(spark)
    spark.range(2).createOrReplaceTempView("perfbench_probe_view")
    after = harness.session_objects(spark)
    spark.catalog.dropTempView("perfbench_probe_view")
    assert after["temp_views"] == before["temp_views"] + 1
    assert harness.objects_growth(before, after) == 1
    assert harness.objects_growth(after, after) == 0


def test_failures_are_counted(spark_env):
    from hadoop_1_spark import registry

    names = ["tpch_q6_forecast", "fake_fail", "fake_wrong"]
    queries = {"tpch_q6_forecast": registry.QUERIES["tpch_q6_forecast"],
               "fake_fail": _fail, "fake_wrong": _wrong}
    oracles = {"tpch_q6_forecast": registry.ORACLE["tpch_q6_forecast"],
               "fake_wrong": "SELECT 5::BIGINT AS id"}
    assert "fake_fail" not in registry.QUERIES
    cfg = harness.RunConfig("test", 7, 0.0, False, spark_env, 2)
    rec = harness.run(cfg, queries, oracles, names)
    passes = 1 + len(rec["warm_pass_s"])  # cold + warm
    assert rec["attempted"] == len(names) * (passes + 1)  # + the oracle check
    where = [(f["query"], f["where"]) for f in rec["failures"]]
    # fake_fail raises in every pass and in the oracle check; fake_wrong
    # runs but disagrees with its oracle; the real query never fails
    assert where.count(("fake_fail", "cold")) == 1
    assert ("fake_fail", "oracle") in where and ("fake_wrong", "oracle") in where
    assert sum(1 for q, _ in where if q == "fake_fail") == passes + 1
    assert not any(q == "tpch_q6_forecast" for q, _ in where)
    assert rec["oracle"]["tpch_q6_forecast"].startswith("ok")
    assert len(rec["warm_query_s"]) == 2 * len(rec["warm_pass_s"])


def test_traced_run_has_a_span_per_query(spark_env):
    from hadoop_1_spark import registry

    names = ["tpch_q6_forecast", "wordcount"]
    cfg = harness.RunConfig("test", 7, 0.0, True, spark_env, 2)
    rec = harness.run(cfg, registry.QUERIES, registry.ORACLE, names)
    assert rec["failures"] == []
    for tree in rec["spans"]:
        assert sorted(c["name"] for c in tree["children"]) == sorted(names)
    layers = rec["layers"]
    # self times partition the pass span (two clocks: allow a millisecond)
    assert layers["self.total_s"] == pytest.approx(layers["trace.traced_pass_s"], abs=1e-3)
    assert layers["operators.jobs"] >= 1
    assert layers["session.load_table_s"] > 0
