"""The driver↔Spark boundary (financial_big_data_spark/local.py): driver-held
rows come back as Arrow local relations equal to ``createDataFrame``'s, in
any driver time zone, and reading a driver route's result runs no Spark
job."""

from __future__ import annotations

import time
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pytest

from financial_big_data_spark.local import local_frame

SCHEMA = (
    "ts timestamp, ntz timestamp_ntz, d date, dec decimal(10,3), s string, "
    "tss array<timestamp>, st struct<i:int,t:timestamp>"
)
ROWS = [
    (
        datetime(2024, 7, 1, 7, 30),
        datetime(2024, 7, 1, 7, 30),
        date(2024, 7, 1),
        Decimal("12.345"),
        "x",
        [datetime(2024, 1, 15, 23, 59, 59, 123456), None],
        (1, datetime(2024, 7, 1, 7, 30)),
    ),
    (
        datetime(1969, 12, 31, 23, 0),
        datetime(1999, 12, 31, 0, 0),
        date(1970, 1, 1),
        Decimal("-0.001"),
        "",
        [],
        (None, None),
    ),
    (None,) * 7,
]


@pytest.fixture(params=["UTC", "America/New_York"])
def driver_tz(request, monkeypatch):
    """The driver process's local zone, where collect() and
    createDataFrame(rows) read a ``timestamp``'s wall clock."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def test_local_frame_matches_create_dataframe(spark, driver_tz):
    """Rows → local_frame → collect equals createDataFrame(rows) → collect,
    and collected rows round-trip, for timestamp (also nested),
    timestamp_ntz, date, decimal, string, an all-NULL row and a NULL map."""
    want = spark.createDataFrame(ROWS, SCHEMA)
    rows = want.collect()
    got = local_frame(spark, ROWS, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == rows
    assert local_frame(spark, rows, want.schema).collect() == rows
    # a map's timestamps too, and a NULL map stays NULL (not an empty map)
    maps = [({"a": datetime(2024, 7, 1, 7, 30), "b": None},), (None,), ({},)]
    want = spark.createDataFrame(maps, "m map<string,timestamp>").collect()
    assert local_frame(spark, maps, "m map<string,timestamp>").collect() == want


def _read_jobs(spark, group, frames) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        for frame in frames:
            assert frame.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _route_results(spark, route):
    from financial_big_data_spark.ml.clustering import dbscan, kmeans_clusters
    from financial_big_data_spark.ml.graph import louvain_distributed_df
    from financial_big_data_spark.ml.metrics import evaluate

    xy = np.random.default_rng(3).normal(size=(30, 2)) + np.repeat([[0], [20], [40]], 10, axis=0)
    points = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(xy)], "id string, x double, y double"
    )
    if route == "louvain":
        cliques = [(a, b) for g in (0, 4) for a in range(g, g + 4) for b in range(a + 1, g + 4)]
        edges = spark.createDataFrame(cliques + [(3, 4)], "src long, dst long")
        return [louvain_distributed_df(edges)[0]]
    if route == "kmeans":
        return [kmeans_clusters(points, ["x", "y"], k=3)[0]]
    if route == "dbscan":
        return [dbscan(points, "id", ["x", "y"], eps=3.0, min_pts=3)[0]]
    preds = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("c", None)], "true_label string, pred_label string"
    )
    return list(evaluate(preds))


@pytest.mark.parametrize("route", ["louvain", "kmeans", "dbscan", "evaluate"])
def test_driver_route_results_read_without_jobs(spark, route):
    """Each driver route (Louvain, k-means and DBSCAN under their caps, the
    forecast metrics) returns local relations: reading them runs no Spark
    job."""
    frames = _route_results(spark, route)
    assert _read_jobs(spark, f"read_driver_route_{route}", frames) == 0


def test_pair_clusters_driver_route_reads_without_jobs(spark):
    """``pair_clusters``' driver union-find returns a local relation: its
    rows are the distributed route's, and reading it runs no Spark job."""
    from financial_big_data_spark.operators.dedup import pair_clusters

    pairs = spark.createDataFrame([(5, 2), (2, 9), (9, 7), (40, 41)], "id_a long, id_b long")
    driver = pair_clusters(pairs, "doc_id")
    assert _read_jobs(spark, "read_pair_clusters", [driver]) == 0
    distributed = pair_clusters(pairs, "doc_id", driver_max_pairs=0)
    assert driver.columns == distributed.columns
    assert sorted(driver.collect()) == sorted(distributed.collect())
