"""The engine's one session profile (pdf4py_spark.session)."""

import json
import os

from pdf4py_spark.session import PROFILE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_profile_matches_engine_profile():
    """perfbench builds its own session from config.json; every setting
    there except the driver heap (a deployment value) must be the one
    the engine ships, or the benchmark measures another profile."""
    with open(os.path.join(ROOT, "perfbench", "config.json")) as fh:
        bench_conf = json.load(fh)["session_conf"]
    bench_conf.pop("spark.driver.memory")
    assert bench_conf.items() <= PROFILE.items()


def test_spark_fixture_carries_profile(spark):
    conf = spark.conf
    assert {k: conf.get(k) for k in PROFILE} == PROFILE
    # max(2 x defaultParallelism, 8): 8 at the default local[4]
    assert conf.get("spark.sql.shuffle.partitions") == str(
        max(2 * spark.sparkContext.defaultParallelism, 8))
