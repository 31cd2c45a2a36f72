"""The one benchmark harness (bench.py): its headline set, its timing
statistics, and every suite's measured function, run once in-process at
sf0.001 with tiny sizes, returning the record keys its suite prints."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

import bench
from tests.test_job_counts import PINS, SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = {"host_probe_sec"}


@pytest.fixture
def small(tmp_path, monkeypatch):
    """Fixtures in a temporary directory, a 4-partition input layout,
    one timed rep, and a stand-in CPU probe (the headline test runs the
    real one)."""
    monkeypatch.setattr(bench, "FIXTURES", str(tmp_path))
    monkeypatch.setattr(bench, "LAYOUT", 4)
    monkeypatch.setattr(bench, "BEST_OF", 1)
    monkeypatch.setattr(bench, "host_probe_sec", lambda spark: 0.25)


def test_headline_names_are_catalog_entries():
    from htrc_ingester_spark.plans import catalog

    assert set(bench.HEADLINE) <= set(catalog.queries())
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_headline_is_the_r3_subset_plus_every_pinned_entry():
    assert len(bench.R3_SUBSET) == 16
    assert set(bench.HEADLINE) == set(bench.R3_SUBSET) | {name for name, _ in PINS}


def test_stats_median_mad_min():
    assert bench.stats([3.0, 1.0, 2.0, 10.0, 2.5]) == {"median": 2.5, "mad": 0.5, "min": 1.0}
    # even count: mean of the middle pair, upper middle deviation
    assert bench.stats([4.0, 1.0, 3.0, 2.0]) == {"median": 2.5, "mad": 1.5, "min": 1.0}


def test_timed_warms_once_and_clears_the_cache_before_every_rep():
    events = []
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: events.append("clear")))
    walls, out = bench.timed(spark, lambda: events.append("run") or len(events), 3)
    assert events == ["run"] + ["clear", "run"] * 3
    assert len(walls) == 3 and out == 7
    events.clear()
    bench.timed(spark, lambda: events.append("run"), 1, warm=False)
    assert events == ["clear", "run"]


def test_headline_suite_keys(spark):
    with open(os.path.join(ROOT, "BENCH_r05.json")) as f:
        keys = set(json.load(f)["parsed"])
    out = bench.queries(spark, SF, ["flagship_pip_tiles", "h3_encode_hist"], 1)
    assert set(out) == keys | PROBE
    assert set(out["queries"]) == {"flagship_pip_tiles", "h3_encode_hist"}
    assert out["images_per_sec_flagship"] > 0 and out["host_probe_sec"] > 0
    assert out["r3_subset_total"] is None  # only a full r3 subset sums


@pytest.mark.parametrize("suite,child,level_keys,top_keys", [
    ("scaling", "scaling_child", {"cpus", "n_images", "wall_sec", "images_per_sec"},
     {"metric", "input", "levels", "scaling_efficiency", "pass"}),
    ("dedup-scaling", "dedup_child", {"cpus", "n_docs", "n_pairs", "wall_sec", "docs_per_sec"},
     {"metric", "levels", "scaling_efficiency", "pass"}),
])
def test_scaling_suite_keys(spark, small, monkeypatch, suite, child, level_keys, top_keys):
    # one level measured in this process stands in for both
    # spark-submit children
    level = getattr(bench, child)(spark, SF, 4)
    monkeypatch.setattr(bench, "launch_child", lambda s, cpus, mult: dict(level))
    out = bench.scaling(suite, SF, 4, (1, 4))
    assert set(out) == top_keys | PROBE
    assert set(out["levels"]) == {"1", "4"}
    for run in out["levels"].values():
        assert set(run) == level_keys | PROBE
    assert out["host_probe_sec"] == max(v["host_probe_sec"] for v in out["levels"].values())


def test_dedup_corpus_plants_clusters_of_four(spark):
    docs = bench.dedup_corpus(spark, SF, 8)
    base = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert docs.count() == 8 * base
    planted = docs.where("(doc_id - 1) div 8 % 50 = 0").groupBy("text").count()
    assert {r["count"] for r in planted.collect()} == {4}


def test_knn_scale_suite_keys(spark, small):
    out = bench.knn_scale(spark, SF, 20)
    assert set(out) == {
        "metric", "value", "unit", "n_queries", "k", "result_rows", "wall_sec",
        "driver_rss_before_mib", "driver_rss_after_mib", "driver_rss_delta_mib",
    } | PROBE
    assert out["result_rows"] == 20 * out["k"]


def test_skew_suite_keys(spark, small):
    out = bench.skew(spark, SF, 1)
    assert set(out) == {
        "n_rows", "top3_cell_rows", "skew_frac", "repart_plain", "repart_salted",
        "collect_plain", "collect_salted", "repart_speedup", "collect_speedup",
    } | PROBE
    assert out["n_rows"] == spark.read.parquet(f"{SF}/lineitem.parquet").count()


def test_table_pip_suite_keys(spark, small):
    out = bench.table_pip(spark, SF, 200)
    assert set(out) == {
        "metric", "value", "unit", "n_polygons", "n_points", "n_hits", "wall_sec",
        "parity_sample_polys", "parity_sample_rows", "parity", "res", "res_max",
        "cpus", "sf_dir",
    } | PROBE
    assert out["parity_sample_rows"] > 0


def test_image_suite_keys_and_restores_split_size(spark, small):
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    out = bench.image(spark, SF, 50)
    assert set(out) == {
        "metric", "n_images", "wall_sec", "images_per_sec", "bad_rows", "tile_groups",
    } | PROBE
    assert out["n_images"] == 50 and out["bad_rows"] == 0
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before
