"""The benchmark's own tests: the flatten sink plan is not pruned, the
oracles catch wrong outputs, and BENCHMARK.json names what run.py prints.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SEED = 7


@pytest.fixture(scope="module")
def traced_flatten():
    """The warm-up flattens under traced spans; yields (workload, log,
    spans, the executed plan of the same flatten sunk into count())."""
    root = os.path.join(run.WORK, "test")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    inputs = gen.ensure_inputs(run.WORK, "flatten_wide", SEED)
    spark = run.start_session(os.path.join(root, "eventlog"))
    spans = tracing.Spans(spark.sparkContext)
    wl = workloads.FlattenWide(inputs, os.path.join(root, "state"), SEED)
    wl.setup(spark, spans)
    wl.warmup()
    pruned = wl.aggregate(wl.cohort_df).df.groupBy().count()
    count_plan = pruned._jdf.queryExecution().executedPlan().toString()
    run.stop_jvm(spark)
    yield wl, tracing.EventLog(os.path.join(root, "eventlog")), spans, count_plan
    shutil.rmtree(root, ignore_errors=True)


def _flatten_groups(spans) -> list[str]:
    groups = [r["group"] for r in spans.records if r["name"] == "flattener.aggregate_timeseries"]
    assert groups, "no flatten span recorded"
    return groups


def _flatten_nodes(log, spans):
    return log.plan_nodes(set(_flatten_groups(spans)))


def test_sink_plan_keeps_range_joins(traced_flatten):
    wl, log, spans, _ = traced_flatten
    for group in _flatten_groups(spans):
        joins = [s for node, s in log.plan_nodes({group}) if "Join" in node and "__pred_micros" in s]
        # one range-constrained join per temporal value frame: 3 channels + outcome
        assert len(joins) == len(gen.FW_CHANNELS) + 1, (group, joins)
        assert all(">=" in s and "<=" in s for s in joins), joins


def test_sink_plan_keeps_conditional_aggregates(traced_flatten):
    wl, log, spans, _ = traced_flatten
    aggs = [
        s for node, s in _flatten_nodes(log, spans)
        if node == "HashAggregate" and "prediction_time_uuid" in s and "CASE WHEN" in s
    ]
    text = " ".join(aggs)
    for fn in ("avg(", "max(", "count(", "regr_slope(", "max_by("):
        assert fn in text, f"{fn} missing from the executed feature aggregates"


def test_count_prunes_the_flatten(traced_flatten):
    """Why the benchmark never sinks into count(): the join is pruned."""
    *_, count_plan = traced_flatten
    assert "__pred_micros" not in count_plan
    assert "regr_slope" not in count_plan


def test_flatten_oracle_passes_and_catches_a_wrong_value(traced_flatten):
    import pyarrow.parquet as pq

    wl, *_ = traced_flatten
    got = pq.read_table(f"{wl.state_dir}/features-{wl.cohort_rows}").to_pandas()
    uuids = list(got["prediction_time_uuid"])
    assert oracles.check_flatten(wl.inputs, got, uuids) == []
    col = "pred_lab_within_0_to_365_days_count_fallback_nan"
    got[col] = got[col] + 1
    assert oracles.check_flatten(wl.inputs, got, uuids)


def test_dedup_oracle_catches_wrong_jaccard_and_cluster(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = ["a b c d e f", "a b c d e g", "x y z w v u"]
    path = str(tmp_path / "corpus.parquet")
    pq.write_table(pa.table({"doc_id": [0, 1, 2], "text": texts}), path)
    exact = 3 / 5  # abc bcd cde shared; def and deg not
    pairs = pd.DataFrame({"doc_a": [0], "doc_b": [1], "jaccard": [round(exact, 6)]})
    clusters = pd.DataFrame({"doc": [0, 1, 2], "cluster": [0, 0, 2]})
    assert oracles.check_dedup(path, pairs, clusters, 0.5) == []
    assert oracles.check_dedup(path, pairs.assign(jaccard=0.9), clusters, 0.5)
    assert oracles.check_dedup(path, pairs, clusters.assign(cluster=[0, 1, 2]), 0.5)


def test_gorilla_oracle_catches_one_flipped_bit(tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pd.to_datetime(["2024-03-04 00:00:01", "2024-03-04 00:00:07"])
    raw = pd.DataFrame({"conv_id": ["c", "c"], "ts": ts, "latency": [1.25, 2.5]})
    path = str(tmp_path / "raw.parquet")
    pq.write_table(pa.Table.from_pandas(raw), path)
    assert oracles.check_gorilla(path, raw, ["c"], None) == []
    bad = raw.copy()
    bad.loc[1, "latency"] = np.nextafter(2.5, 3.0)
    assert oracles.check_gorilla(path, bad, ["c"], None)


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == list(tracing.PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: tracing.unit(k) for k in tracing.PER_LAYER
    }
    res = {
        "lat": {"op": [2.0], "short": [1.0], "other": [3.0]},
        "units": {"op": [10], "short": [1], "other": [0]},
        "cycles": 1,
        "cpu_s": 6.0,
        "peak_rss_mb": 100.0,
    }
    e2e = run.end_to_end(res, 5.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
