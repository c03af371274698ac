"""Incremental mergeable column stats
(jsonschema_spark/operators/incremental.py): partial build, merge
equivalence with a single pass, HLL estimate accuracy, and the
idempotent StatsStore ingest."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from jsonschema_spark.operators.incremental import (
    HistStore,
    StatsStore,
    hist_partials,
    merge_hists,
    merge_partials,
    psi_between,
    stats_partials,
)

COLS = ["event_id", "user_id", "event_type", "value"]


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def _by_col(df):
    return {r["column"]: r for r in df.collect()}


def test_merge_of_batches_equals_single_pass_exact_fields(spark, events):
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = _by_col(
        merge_partials(
            stats_partials(a, COLS).unionByName(stats_partials(b, COLS))
        )
    )
    single = _by_col(merge_partials(stats_partials(events, COLS)))
    for c in COLS:
        for f in ("n_rows", "n_nulls", "min_num", "max_num",
                  "min_str", "max_str", "kind"):
            assert merged[c][f] == single[c][f], (c, f)


def test_hll_estimate_close_to_exact(spark, events):
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = _by_col(
        merge_partials(
            stats_partials(a, COLS).unionByName(stats_partials(b, COLS))
        )
    )
    for c in COLS:
        exact = events.select(
            F.count_distinct(F.col(c).cast("string"))
        ).first()[0]
        est = merged[c]["n_distinct_est"]
        assert abs(est - exact) <= max(2.0, 0.05 * exact), (c, est, exact)


def test_numeric_min_is_numeric_not_lexicographic(spark):
    # "9" > "10" lexicographically; the numeric slots must fold 9 < 10
    df = spark.createDataFrame([(9,), (10,)], "v long")
    a, b = df.filter("v = 9"), df.filter("v = 10")
    merged = _by_col(
        merge_partials(
            stats_partials(a, ["v"]).unionByName(stats_partials(b, ["v"]))
        )
    )
    assert merged["v"]["min_num"] == 9.0 and merged["v"]["max_num"] == 10.0
    assert merged["v"]["min_str"] is None  # numeric columns skip str slots


def test_store_ingest_idempotent_and_partition_scoped(spark, events, tmp_path):
    store = StatsStore(str(tmp_path / "store"))
    daily = events.withColumn("day", F.to_date("ts"))
    n1 = store.ingest(daily, COLS, ["day"])
    assert n1 > 0
    # re-ingesting the same partitions appends nothing
    assert store.ingest(daily, COLS, ["day"]) == 0
    cur = _by_col(store.current(spark))
    single = _by_col(merge_partials(stats_partials(events, COLS)))
    for c in COLS:
        assert cur[c]["n_rows"] == single[c]["n_rows"]
        assert cur[c]["min_num"] == single[c]["min_num"]


EDGES = [float(x) for x in range(50, 500, 50)]  # 10 bins over value


def _hist_map(df):
    return {r["bin"]: r["n"] for r in df.collect()}


def test_hist_merge_of_batches_equals_single_pass(spark, events):
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = _hist_map(
        merge_hists(
            hist_partials(a, "value", EDGES).unionByName(
                hist_partials(b, "value", EDGES)
            )
        )
    )
    single = _hist_map(merge_hists(hist_partials(events, "value", EDGES)))
    assert merged == single
    assert sum(merged.values()) == events.filter(
        F.col("value").isNotNull()
    ).count()


def test_hist_bin_arithmetic_boundaries(spark):
    # bin = count of edges <= x: below-first-edge -> 0, exactly-on-edge
    # joins the right bucket, above-last-edge -> len(edges)
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (49.9,), (50.0,), (449.9,), (450.0,), (9999.0,), (None,)],
        "value double",
    )
    h = _hist_map(merge_hists(hist_partials(df, "value", EDGES)))
    assert h == {0: 3, 1: 1, 8: 1, 9: 2}  # null excluded


def test_psi_zero_against_self_and_positive_on_shift(spark, events):
    h = merge_hists(hist_partials(events, "value", EDGES))
    same = psi_between(h, h, len(EDGES) + 1).first()
    assert abs(same["psi"]) < 1e-12
    shifted = events.withColumn("value", F.col("value") + 120.0)
    h2 = merge_hists(hist_partials(shifted, "value", EDGES))
    moved = psi_between(h, h2, len(EDGES) + 1).first()
    assert moved["psi"] > 0.2  # conventional drift threshold


def test_psi_one_sided_bins_contribute(spark):
    # a bin present only in cur must still add a term (full_outer path)
    base = spark.createDataFrame([(10.0,)] * 8, "value double")
    cur = spark.createDataFrame([(10.0,)] * 4 + [(499.0,)] * 4, "value double")
    hb = merge_hists(hist_partials(base, "value", EDGES))
    hc = merge_hists(hist_partials(cur, "value", EDGES))
    assert hb.count() == 1 and hc.count() == 2
    psi = psi_between(hb, hc, len(EDGES) + 1).first()["psi"]
    assert psi > 0.5


def test_hist_store_idempotent_ingest_and_psi_vs(spark, events, tmp_path):
    daily = events.withColumn("day", F.to_date("ts"))
    base = HistStore(str(tmp_path / "hbase"), "value", EDGES)
    cur = HistStore(str(tmp_path / "hcur"), "value", EDGES)
    n1 = base.ingest(daily.filter(F.col("event_id") % 2 == 0), ["day"])
    assert n1 > 0
    assert base.ingest(daily.filter(F.col("event_id") % 2 == 0), ["day"]) == 0
    cur.ingest(daily.filter(F.col("event_id") % 2 == 1), ["day"])
    psi = cur.psi_vs(spark, base).first()["psi"]
    # two random halves of the same distribution: near-zero drift
    assert abs(psi) < 0.05
    # merged store equals a single-pass histogram of its half
    got = _hist_map(
        base.current(spark).select("bin", "n")
    )
    want = _hist_map(
        merge_hists(
            hist_partials(
                events.filter(F.col("event_id") % 2 == 0), "value", EDGES
            )
        )
    )
    assert got == want


def test_hist_store_edge_mismatch_rejected(spark, events, tmp_path):
    a = HistStore(str(tmp_path / "ha"), "value", EDGES)
    b = HistStore(str(tmp_path / "hb"), "value", EDGES[:-1])
    with pytest.raises(ValueError, match="edges differ"):
        a.psi_vs(spark, b)
    with pytest.raises(ValueError, match="sorted"):
        hist_partials(events, "value", [100.0, 50.0])


def _corrupt_store(path) -> str:
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file" * 8)
    return str(path)


def test_stats_store_corrupt_part_raises(spark, events, tmp_path):
    # reading a damaged store as empty would re-ingest every partition
    store = StatsStore(_corrupt_store(tmp_path / "bad"))
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        store.ingest(events, COLS)


def test_hist_store_corrupt_part_raises(spark, events, tmp_path):
    store = HistStore(_corrupt_store(tmp_path / "bad"), "value", EDGES)
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        store.ingest(events)


def test_store_new_partition_appends_only_batch_partials(spark, events, tmp_path):
    store = StatsStore(str(tmp_path / "store2"))
    daily = events.withColumn("day", F.to_date("ts"))
    days = sorted(r["day"] for r in daily.select("day").distinct().collect())
    head, tail = days[:-1], days[-1]
    n1 = store.ingest(daily.filter(F.col("day").isin(head)), COLS, ["day"])
    n2 = store.ingest(daily, COLS, ["day"])  # only the tail day is new
    assert n1 == len(head) * len(COLS)
    assert n2 == len(COLS)
    cur = _by_col(store.current(spark))
    single = _by_col(merge_partials(stats_partials(events, COLS)))
    assert all(
        cur[c]["n_rows"] == single[c]["n_rows"] for c in COLS
    )
