"""Self-tests of the benchmark: its checks catch wrong output, its inputs
come from the seed alone, its metric names match BENCHMARK.json, and it
refuses to run without the package.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, run  # noqa: E402
from perfbench.checks import dedup_output_ok, same_digest, token_digest  # noqa: E402
from perfbench.harness import Ledger, Tracer, tail  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from parquet_python_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    local = str(tmp_path_factory.mktemp("spark-local"))
    s = get_spark(
        "perfbench-selftest", cpus=2, shuffle_partitions=2,
        extra_conf={"spark.local.dir": local, "spark.ui.enabled": "false",
                    "spark.driver.memory": "1g"},
    )
    yield s
    s.stop()


def test_digest_check_counts_a_corrupted_output(spark):
    from pyspark.sql import functions as F

    from parquet_python_spark.tokengen import generate_tokens_df

    df = generate_tokens_df(spark, 200, seed=3, partitions=2, max_len=64)
    want = token_digest(df)
    # one token of one row off by one: row count and token sum stay equal
    bad = df.withColumn(
        "tokens",
        F.when(
            F.col("doc_id") == df.first()["doc_id"],
            F.transform("tokens", lambda t, i: F.when(i == 0, t + 1).otherwise(t)),
        ).otherwise(F.col("tokens")),
    )
    ledger = Ledger()
    same_digest(ledger, "clean", token_digest(df), want)
    same_digest(ledger, "corrupted", token_digest(bad), want)
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.failures[0].startswith("corrupted")


def test_dedup_check_counts_two_survivors(spark):
    from pyspark.sql import functions as F

    rows = [(0, 0, True), (1, 0, False), (2, 2, True), (3, 2, True)]
    out = spark.createDataFrame(rows, "doc_id long, component_id long, keep boolean")
    doc_xor = spark.range(4).agg(F.bit_xor(F.xxhash64("id"))).collect()[0][0]
    ok, got = dedup_output_ok(out, 4, doc_xor)
    assert not ok and got["bad"] == 1
    fixed = out.withColumn("keep", F.col("doc_id") == F.col("component_id"))
    assert dedup_output_ok(fixed, 4, doc_xor)[0]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_inputs_come_from_the_seed_alone(spark, tmp_path, name):
    """Same seed, same checksum; another seed, another checksum (tiny size)."""
    sums = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        ctx = run.Ctx(spark, Tracer(False, "t"), Ledger(), str(tmp_path), seed)
        wl = WORKLOADS[name](ctx, scale=0.02)
        sums[tag] = wl.generate(str(tmp_path / tag))
    assert sums["a"] == sums["b"]
    assert sums["a"] != sums["c"]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == [n for n, _ in layers.PER_LAYER]
    assert [m["unit"] for m in bench["per_layer"]] == [u for _, u in layers.PER_LAYER]
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOAD_NAMES


def test_tail_keeps_ten_samples_beyond_it():
    vals = list(range(1, 101))
    v, pct = tail(vals)
    assert pct == 90.0 and sum(x > v for x in vals) == 10
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tokens", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
