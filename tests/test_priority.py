"""apply_politeness: the per-host crawl-delay quota equals a naive
per-host row_number window."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window, functions as F

from librecrawl_spark.operators.frontier import apply_politeness


@pytest.fixture(scope="module")
def politeness_fixture(spark):
    """Skew-shaped frontier: a hot zero-delay host, a hot limited host,
    under-/exactly-at-/over-budget hosts, and a host absent from the
    hosts table (missing => unlimited). wave_seconds=10."""
    rng = random.Random(11)
    rows = []
    seq = 0
    # host volumes: h0 hot unlimited (delay 0), h1 hot limited (delay 2
    # => budget 5), h2 exactly at budget (delay 1 => budget 10, 10 rows),
    # h3 under budget (delay 1, 3 rows), h4 over by one (delay 5 =>
    # budget 2, 3 rows), h9 missing from hosts table (7 rows)
    vol = {0: 400, 1: 300, 2: 10, 3: 3, 4: 3, 9: 7}
    order = []
    for h, n in vol.items():
        order += [h] * n
    rng.shuffle(order)
    for h in order:
        rows.append((f"https://h{h}.example/p/{seq}", 1, seq))
        seq += 1
    frontier = spark.createDataFrame(rows, "url string, depth int, seq long")
    hosts = spark.createDataFrame(
        [("h0.example", 0.0), ("h1.example", 2.0), ("h2.example", 1.0),
         ("h3.example", 1.0), ("h4.example", 5.0), ("h8.example", 1.0)],
        "host string, crawl_delay double")
    return frontier.persist(), hosts.persist()


def _naive_politeness(frontier, hosts, wave_seconds):
    e = frontier.withColumn(
        "host", F.regexp_extract("url", r"^https?://([^/]*)", 1))
    e = e.join(F.broadcast(hosts), "host", "left").fillna({"crawl_delay": 0.0})
    unlimited = e.filter(F.col("crawl_delay") <= 0)
    limited = e.filter(F.col("crawl_delay") > 0)
    budget = F.greatest(F.floor(F.lit(wave_seconds) / F.col("crawl_delay")), F.lit(1))
    w = Window.partitionBy("host").orderBy("seq")
    limited = limited.withColumn("_r", F.row_number().over(w)).withColumn("_bg", budget)
    sel = {r["seq"] for r in unlimited.collect()} | {
        r["seq"] for r in limited.filter(F.col("_r") <= F.col("_bg")).collect()}
    dfr = {r["seq"] for r in limited.filter(F.col("_r") > F.col("_bg")).collect()}
    return sel, dfr


@pytest.mark.parametrize("kwargs", [
    {},
    {"seq_bounds": (0, 722)},              # accepted and unused
    {"seq_bounds": (0, 10_000)},
])
def test_politeness_matches_naive_window(spark, politeness_fixture, kwargs):
    frontier, hosts = politeness_fixture
    want_sel, want_dfr = _naive_politeness(frontier, hosts, 10.0)
    sel, dfr = apply_politeness(frontier, hosts, 10.0, **kwargs)
    assert set(sel.columns) == {"url", "depth", "seq"}
    assert set(dfr.columns) == {"url", "depth", "seq"}
    assert {r["seq"] for r in sel.collect()} == want_sel
    assert {r["seq"] for r in dfr.collect()} == want_dfr


def test_politeness_budget_floor_is_one(spark):
    # delay far above wave_seconds still grants one slot per wave
    frontier = spark.createDataFrame(
        [(f"https://slow.example/{i}", 1, i) for i in range(4)],
        "url string, depth int, seq long")
    hosts = spark.createDataFrame(
        [("slow.example", 1e6)], "host string, crawl_delay double")
    sel, dfr = apply_politeness(frontier, hosts, 10.0)
    assert [r["seq"] for r in sel.collect()] == [0]
    assert sorted(r["seq"] for r in dfr.collect()) == [1, 2, 3]


def test_politeness_host_col_passthrough(spark, politeness_fixture):
    frontier, hosts = politeness_fixture
    want_sel, _ = _naive_politeness(frontier, hosts, 10.0)
    pre = frontier.withColumn(
        "hc", F.regexp_extract("url", r"^https?://([^/]*)", 1))
    sel, dfr = apply_politeness(pre, hosts, 10.0, host_col="hc")
    assert {r["seq"] for r in sel.collect()} == want_sel
    assert set(sel.columns) == {"url", "depth", "seq", "hc"}
