"""Tests of the benchmark itself (not of firepit_spark).

Run from the repo root:  python3 -m pytest corebench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench  # noqa: E402
import stixgen as sg  # noqa: E402
import tablegen  # noqa: E402
from acct import Tracer, tail_stat  # noqa: E402


def _bundles(seed):
    gen = sg.Generator(seed)
    obs = gen.observations(50, "q", src=0, share=0.3)
    return [json.dumps(sg.bundle(obs, "b", v21=v21), sort_keys=True) for v21 in (False, True)]


def test_generator_is_deterministic_per_seed():
    assert _bundles(7) == _bundles(7)
    assert _bundles(7) != _bundles(8)
    a, b = tablegen.make_tables(3), tablegen.make_tables(3)
    assert all(a[k].equals(b[k]) for k in a)
    assert not tablegen.make_tables(4)["documents"].equals(a["documents"])


def test_truth_answers_follow_the_generated_values():
    gen = sg.Generator(1)
    obs = gen.observations(40, "q", src=0, share=0.5)
    truth = sg.Truth()
    truth.add(obs)
    keys = truth.extract("q", "network-traffic", lambda k: True)
    assert keys == {o.nt_key for o in obs}
    counts = truth.value_counts_dport(keys)
    assert sum(counts.values()) == len(obs)
    assert truth.number_observed("url", truth.extract("q", "url", lambda u: True)) == sum(
        o.n for o in obs)
    # a 2.1 copy adds observations but no GET-visible network-traffic keys
    truth.add(gen.observations(10, "bulk", src=1, share=0.5), v21=True)
    assert truth.extract("q", "network-traffic", lambda k: True) == keys


def test_checkers_reject_a_perturbed_result():
    gen = sg.Generator(2)
    truth = sg.Truth()
    obs = gen.observations(30, "q", src=0, share=0.5)
    truth.add(obs)
    keys = truth.extract("q", "network-traffic", lambda k: True)
    good = truth.value_counts_dport(keys)
    bad = dict(good)
    port = next(iter(bad))
    bad[port] += 1
    assert bench.expect(good, truth.value_counts_dport(keys)) is None
    assert bench.expect(bad, truth.value_counts_dport(keys)) is not None

    canon = bench.load_canon().canon_rows
    cols = ["id", "score"]
    rows = [(1, 0.5), (2, 0.25)]
    check = bench.slot_check(sorted(cols), canon(cols, rows), canon)
    assert check((None, cols, rows)) is None
    assert check((None, cols, [(1, 0.5), (2, 0.2500001)])) is not None
    assert check((None, cols, rows[:1])) is not None
    assert check((None, ["id", "other"], rows)) is not None


def test_tail_stat_reports_only_percentiles_above_the_median():
    assert tail_stat(list(range(10)))["tail"] is None
    t = tail_stat(list(range(100)))
    assert t["n"] == 100 and t["tail_q"] == 90.0 and t["tail"] == 89


def test_benchmark_json_lists_every_metric_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == {"stix", "slots"}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("corebench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_collector_attributes_a_toy_job_to_its_span(spark):
    spark.range(3).count()  # before tracing: belongs to no span
    tr = Tracer(spark, "t", enabled=True)
    with tr.span("outer") as outer:
        spark.range(10).count()
        with tr.span("inner") as inner:
            spark.range(5).collect()
    with tr.span("idle") as idle:
        pass
    acc = tr.collect()
    assert inner["jobs"] >= 1 and outer["jobs"] >= 1 and idle["jobs"] == 0
    assert tr.totals("outer")["jobs"] == outer["jobs"] + inner["jobs"]
    assert acc["unattributed"], "the job run before tracing is reported"
    assert all(j < outer["j0"] for j in acc["unattributed"])
    assert inner["tasks"] >= 1 and inner["run_s"] >= 0
