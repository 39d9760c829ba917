"""Tiny-seed smoke of the medallion_nightly workload: one full pass (run 1,
delta, run 2) on a small seeded source set must meet every invariant."""

import pytest

pytest.importorskip("pyspark")

from gcp_healthcare_data_pipeline_spark.session import get_spark  # noqa: E402
from nightly import Nightly  # noqa: E402
from run import Probe  # noqa: E402


def test_medallion_nightly_tiny_seed_meets_invariants(tmp_path):
    spark = get_spark("perfbench-smoke", shuffle_partitions=2)
    probe = Probe(traced=False, recording=False)
    probe.spark = spark
    wl = Nightly(seed=5, work=str(tmp_path), scale=0.02)
    ops = wl.run_pass(spark, None, probe)
    assert [op["name"] for op in ops] == [
        f"{s}.{r}" for r in ("full", "incr")
        for s in ("landing", "bronze", "silver", "gold")]
    assert [op.get("error") for op in ops] == [None] * 8
    assert wl.detail["scd2_closed_rows"] > 0
    assert 0 < wl.detail["incr_landed_share"] < 1
