"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship schema-validation query on sf0.001;
``queries()`` exposes one DataFrame-builder per implemented operator
from SURVEY.md §2 (+ the table-level and transcript operators the
north star adds); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL
for each.  Column names are aliased identically on both sides; float
results are either bit-deterministic (sequential folds, identical
per-row IEEE expressions) or exact (scaled-integer sums) so the
driver's value-hash comparison is stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.core import session
from jsonschema_spark.operators import checks, temporal, transcripts

# --------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    session.tune(spark)  # runtime confs (JIT-aligned hugeMethodLimit)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across cores: the testdata parquet is a single
    file (one scan partition), but the per-document script queries
    are CPU-bound — at corpus scale the scan already yields thousands of
    partitions; locally an explicit repartition stands in for that."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


# schema documents used by the validation queries -------------------

ORDERS_SCHEMA = {
    "required": ["o_orderkey", "o_custkey", "o_orderstatus"],
    "properties": {
        "o_orderstatus": {"type": "string", "enum": ["F", "O"]},
        "o_totalprice": {"minimum": 2000, "maximum": 400000},
        "o_orderpriority": {"pattern": "^[1-4]-[A-Z ]+$"},
    },
}

EVENTS_SCHEMA = {
    "required": ["event_id", "ts", "event_type"],
    "properties": {
        "event_type": {
            "type": "string",
            "enum": ["click", "view", "purchase", "signup", "error"],
        },
        "value": {"minimum": 0, "maximum": 450},
        "props": {"pattern": "^\\{.*\\}$"},
    },
    "if": {"keyMatch": {"event_type": "purchase"}},
    "then": {"properties": {"value": {"minimum": 5}}},
}


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------

def q_validate_orders(spark, sf_dir):
    """Flagship row-level validation: compiled keyword plan → exploded
    violation rows (SURVEY.md §2.1: required/enum/min/max/pattern)."""
    orders = _t(spark, sf_dir, "orders")
    plan = js.compile_schema(ORDERS_SCHEMA)
    return plan.validate(orders, keys=["o_orderkey"]).violations


def q_validate_events(spark, sf_dir):
    """Validation with combinators: if/keyMatch/then conditional bound
    (SURVEY.md §2.3) on top of the scalar keywords."""
    events = _t(spark, sf_dir, "events")
    plan = js.compile_schema(EVENTS_SCHEMA)
    return plan.validate(events, keys=["event_id"]).violations


def q_transform_events(spark, sf_dir):
    """Transformation keywords (§2.2): defaultVal, formatVal upper,
    constVal, set with ${} interpolation — as a withColumn pipeline."""
    events = _t(spark, sf_dir, "events")
    plan = js.compile_schema(
        {
            "properties": {
                "props": {"defaultVal": "{}"},
                "event_type": {"formatVal": "upper"},
                "channel": {"constVal": "web"},
            },
            "set": {"tag": "${event_type}:${event_id}"},
        }
    )
    out = plan.transform(events)
    return out.select(
        "event_id",
        "props",
        F.col("event_type").alias("event_type_u"),
        "channel",
        "tag",
    )


def q_stats_lineitem(spark, sf_dir):
    """Column stats in one agg pass (exact mode for oracle parity)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("qty_nulls"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.count_distinct("l_partkey").alias("partkey_distinct"),
        F.count_distinct("l_returnflag").alias("returnflag_distinct"),
        F.min("l_shipdate").cast("date").cast("string").alias("shipdate_min"),
        F.max("l_shipdate").cast("date").cast("string").alias("shipdate_max"),
    )


def q_uniqueness_lineitem(spark, sf_dir):
    """Salted-aggregation duplicate detection on the composite PK."""
    li = _t(spark, sf_dir, "lineitem")
    chk = checks.Uniqueness(keys=["l_orderkey", "l_linenumber"], salt_buckets=8)
    return chk.duplicates(li).select("l_orderkey", "l_linenumber", "dup_count")


def q_uniqueness_verdict(spark, sf_dir):
    """Uniqueness as a verdict row (pass/fail + metrics)."""
    li = _t(spark, sf_dir, "lineitem")
    chk = checks.Uniqueness(keys=["l_orderkey", "l_linenumber"])
    v = chk.verdicts(li)
    return v.select(
        "partition_id",
        "check",
        "pass",
        "violation_count",
        F.element_at("metrics", "dup_keys").alias("dup_keys"),
    )


def q_ri_orders_customer(spark, sf_dir):
    """Referential integrity via broadcast anti-join: orphan o_custkey."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    chk = checks.ReferentialIntegrity(dim=cust, fact_key="o_custkey", dim_key="c_custkey")
    return chk.orphans(orders).select("o_custkey", "orphan_rows")


def q_customers_without_orders(spark, sf_dir):
    """Reverse-RI anti-join: dimension rows never referenced."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    refs = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return (
        cust.join(refs, "c_custkey", "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def q_drift_quantiles(spark, sf_dir):
    """Exact quantile summary (sketch oracle mode) of events.value,
    split by event_id parity — the drift check's input summaries."""
    ev = _t(spark, sf_dir, "events")
    qs = [i / 10 for i in range(11)]
    half = ev.withColumn("half", F.pmod(F.col("event_id"), 2).cast("int"))
    agg = half.groupBy("half").agg(
        F.percentile(F.col("value"), F.array(*[F.lit(x) for x in qs])).alias("q")
    )
    return agg.select(
        "half", F.posexplode("q").alias("q_idx", "q_value")
    ).select("half", "q_idx", F.round("q_value", 6).alias("q_value"))


def q_drift_psi(spark, sf_dir):
    """Histogram PSI between the two halves of events.value — fixed
    bins [0,500) step 50; counts exact, PSI rounded."""
    ev = _t(spark, sf_dir, "events")
    b = F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9))
    half = F.pmod(F.col("event_id"), 2).cast("int")
    hist = (
        ev.select(b.alias("bin"), half.alias("half"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
        )
    )
    tot = hist.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    joined = hist.crossJoin(tot)
    # Laplace smoothing keeps empty bins finite (and ANSI-safe)
    p = (F.col("n0") + 0.5) / (F.col("t0") + 5.0)
    q = (F.col("n1") + 0.5) / (F.col("t1") + 5.0)
    term = (p - q) * F.log(p / q)
    return (
        joined.select(F.col("bin"), term.alias("term"))
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


def q_drift_incremental(spark, sf_dir):
    """Incremental drift (operators/incremental.py hist path): each
    half of events arrives as two independently-scanned batches; the
    half's histogram is the MERGE of batch partials (counts add — no
    history rescan), and PSI compares the merged current half against
    the merged baseline half.  Bin arithmetic (count of edges <= x via
    one F.aggregate) is exactly replayed by the oracle."""
    from jsonschema_spark.operators.incremental import (
        hist_partials,
        merge_hists,
        psi_between,
    )

    ev = _t(spark, sf_dir, "events")
    edges = [float(x) for x in range(50, 500, 50)]  # 10 bins

    def merged_hist(half: int):
        h = ev.filter(F.pmod(F.col("event_id"), 2) == half)
        a = h.filter(F.pmod(F.col("event_id"), 4) <= 1)
        b = h.filter(F.pmod(F.col("event_id"), 4) >= 2)
        return merge_hists(
            hist_partials(a, "value", edges).unionByName(
                hist_partials(b, "value", edges)
            )
        )

    hb, hc = merged_hist(0), merged_hist(1)
    psi = psi_between(hb, hc, len(edges) + 1).select(
        F.round("psi", 6).alias("psi")
    )
    j = (
        hb.select("bin", F.col("n").alias("n_base"))
        .join(hc.select("bin", F.col("n").alias("n_cur")), "bin", "full_outer")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    return j.crossJoin(F.broadcast(psi)).select(
        "bin", "n_base", "n_cur", "psi"
    )


def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: hash aggregation with exact scaled-integer sums
    (map-side partial agg; one shuffle on the 6-value group key)."""
    li = _t(spark, sf_dir, "lineitem")
    e4 = lambda c: F.sum(F.round(c * 10000).cast("long"))  # noqa: E731
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            e4(F.col("l_quantity")).alias("sum_qty_e4"),
            e4(F.col("l_extendedprice")).alias("sum_base_price_e4"),
            e4(disc_price).alias("sum_disc_price_e4"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("sum_qty_e4") / 10000.0).alias("sum_qty"),
            (F.col("sum_base_price_e4") / 10000.0).alias("sum_base_price"),
            (F.col("sum_disc_price_e4") / 10000.0).alias("sum_disc_price"),
            "count_order",
        )
    )


def q_q3_top_unshipped(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join (dims broadcast), agg, deterministic
    top-10 (revenue desc, orderkey asc)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    )
    # broadcast ONLY the filtered dimension (customer); orders is a
    # fact table — at corpus scale its join must stay shuffle/AQE-chosen
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("revenue_e4"))
    )
    return (
        agg.orderBy(F.col("revenue_e4").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            (F.col("revenue_e4") / 10000.0).alias("revenue"),
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


def q_q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: snowflake join with broadcast dims, group by
    nation."""
    for n in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _t(spark, sf_dir, n).createOrReplaceTempView(n)
    # revenue is CAST ... AS DOUBLE on BOTH engine and oracle sides: a
    # bare `SUM(bigint) / 10000.0` is DECIMAL in Spark SQL (literal
    # 10000.0 parses as DECIMAL) but DOUBLE in DuckDB — same values,
    # different Arrow type, driver hash mismatch (VERDICT.md r1 item 2).
    # nation/region are broadcast explicitly (tiny dims at any scale);
    # customer/orders/lineitem stay AQE-planned fact joins.
    return spark.sql(
        """
        SELECT /*+ BROADCAST(nation), BROADCAST(region), BROADCAST(supplier) */
               n_name,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                    AS DOUBLE) / 10000.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY n_name
        """
    )


def q_window_rank_events(spark, sf_dir):
    """Window ranking — the north star's stable turn ordering invariant
    (row_number over partition/order) — first 3 events per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn", "event_type")
    )


def q_sessionize_events(spark, sf_dir):
    """Stateful sessionization via window lag + running sum: new session
    when gap > 1800s; per-user session/event counts."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(secs).over(w)
    new_sess = F.when(prev.isNull() | ((secs - prev) > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_rollup_orders(spark, sf_dir):
    """Grouping-sets coverage: ROLLUP(status, priority) with sentinel
    labels for the supertotal rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
        )
    )


def q_scalar_funcs(spark, sf_dir):
    """Scalar-function parity sample (§2.5/§2.6 registry): hash, string
    and date functions over orders."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.md5(F.col("o_orderpriority")).alias("prio_md5"),
        F.sha2(F.col("o_orderstatus"), 256).alias("status_sha256"),
        F.upper(F.col("o_orderpriority")).alias("prio_upper"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_class"),
        F.concat_ws(":", F.col("o_orderstatus"), F.col("o_orderkey").cast("string")).alias("tag"),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
        F.length(F.col("o_orderpriority")).alias("prio_len"),
    )


def q_json_extract_events(spark, sf_dir):
    """JSON scalar functions (json.from analog, funcs.go:349-368):
    extract props.k."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_stats_incremental(spark, sf_dir):
    """Incremental corpus stats (operators/incremental.py): the corpus
    arrives as two independently-scanned batches; corpus-wide stats
    are the MERGE of the two partial sets (counts add, typed min/max
    fold) — provably equal to the oracle's single-pass scan.  The HLL
    sketch (n_distinct_est) carried by the same partials is
    pytest-verified; approximate estimates are not oracle-hashable."""
    from jsonschema_spark.operators.incremental import (
        merge_partials,
        stats_partials,
    )

    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = merge_partials(
        stats_partials(a, cols).unionByName(stats_partials(b, cols))
    )
    return merged.select(
        "column", "kind", "n_rows", "n_nulls",
        "min_num", "max_num", "min_str", "max_str",
    )


def q_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase), strict event-time
    chain: one user-key shuffle + a columnar fold over the sorted
    per-user step events.  operators/temporal.funnel."""
    from jsonschema_spark.operators.temporal import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


def q_validate_part(spark, sf_dir):
    """multipleOf + bounds + enum over part (SURVEY §2.1)."""
    part = _t(spark, sf_dir, "part")
    plan = js.compile_schema(
        {
            "required": ["p_partkey"],
            "properties": {
                "p_size": {"type": "integer", "minimum": 1, "maximum": 50,
                            "multipleOf": 5},
                "p_retailprice": {"minimum": 900},
                "p_brand": {"pattern": "^Brand#[0-9]+$"},
            },
        }
    )
    return plan.validate(part, keys=["p_partkey"]).violations


def q_events_top_users(spark, sf_dir):
    """Deterministic top-k aggregation: 10 busiest users."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(10)
    )


def q_stats_by_event_type(spark, sf_dir):
    """Grouped column stats (per-dimension verdict granularity)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0 / F.count(F.lit(1)), 6).alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count_distinct("user_id").alias("users"),
    )


def q_window_gaps(spark, sf_dir):
    """lead/lag window coverage: seconds since previous event per
    user (first event per user omitted)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(secs).over(w)
    return (
        ev.select("user_id", "event_id", (secs - prev).alias("gap_sec"))
        .filter(F.col("gap_sec").isNotNull())
    )


def q_asof_purchase_attribution(spark, sf_dir):
    """Backward as-of join (temporal.asof_join): attribute every
    purchase event to the same user's most recent click at-or-before
    the purchase (ties broken by max click event_id).  Scale shape:
    union-tag + ONE window carry-forward — a single hash shuffle on
    user_id for both inputs, no candidate-pair blow-up on hot users."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = temporal.asof_join(
        purchases, clicks, on="user_id",
        right_cols=["event_id"], tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("click_event_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("gap_us"),
    )


def q_range_join_error_windows(spark, sf_dir):
    """Keyed range join (temporal.range_join): each error event opens
    a 48-hour window; count + sum the same user's non-error events
    inside it (half-open [start, end)), keeping empty windows.  Scale
    shape: intervals explode into day buckets (fan-out ≤ 3), probe
    rows compute ONE bucket, and the join is a hash equi-join on
    (user_id, bucket) with the range check residual — never a
    nested-loop/inequality join.  Value sums snap to scaled longs
    before aggregation so the result is exact."""
    ev = _t(spark, sf_dir, "events")
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("window_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 48 HOURS")).alias("w_end"),
    )
    others = ev.filter(F.col("event_type") != "error").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = temporal.range_join(
        others, windows, left_ts="ts", start_col="w_start",
        end_col="w_end", on=["user_id"], bucket_sec=86400, how="right",
    )
    v6 = F.round(F.col("value") * 1e6, 0).cast("long")
    return (
        joined.groupBy("window_id", "user_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.coalesce(F.sum(v6), F.lit(0)).alias("__s6"),
        )
        .select(
            "window_id",
            "user_id",
            "n_events",
            F.round(F.col("__s6").cast("double") / 1e6, 6).alias("sum_value"),
        )
    )


def q_rolling_user_activity(spark, sf_dir):
    """Per-event rolling 7-day activity (temporal.rolling_window):
    for every event, the same user's event count and exact
    cents-scaled value sum over [ts - 7d, ts].  Scale shape: ONE hash
    shuffle on user_id + one per-key sort; the RANGE frame slides
    incrementally (each row enters/leaves once) — never the quadratic
    self-join form.  floor(value*100) makes the sum an integer sum:
    exact, order-free, oracle-replayable."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.rolling_window(
        ev,
        key_col="user_id",
        ts_col="ts",
        lookback_sec=7 * 86400,
        aggs={
            "n_7d": F.count(F.lit(1)),
            "cents_7d": F.sum(
                F.floor(F.col("value") * 100).cast("long")
            ),
        },
    )
    return out.select("event_id", "user_id", "n_7d", "cents_7d")


JSON_EVENTS_SCHEMA = {
    "required": ["user"],
    "properties": {
        "user": {
            "type": "object",
            "required": ["id", "name"],
            "properties": {
                "id": {"type": "integer", "minimum": 1},
                "name": {"type": "string", "pattern": "^u[0-9]+$"},
            },
        },
        "items": {"type": "array", "items": {"properties": {"q": {"maximum": 100}}}},
        "note": {"maxLength": 10},
    },
}


def q_validate_json_events(spark, sf_dir):
    """Dynamic JSON-string-column validation (the reference's actual
    input domain, schema.go:121-138): a nested JSON document column is
    parsed ONCE via from_json with a schema inferred from the document
    (plans/json_input.py), then the SAME compiled keyword plan runs on
    the parsed struct — nested object required/minimum/pattern, items
    per-element bounds, maxLength, and malformed-document detection.
    The payload is built deterministically from events columns so the
    DuckDB oracle can rebuild the identical documents."""
    doc_df = _json_events_payload_df(spark, sf_dir)
    plan = js.compile_schema(JSON_EVENTS_SCHEMA)
    # pinned to the inferred-struct fast path (like-for-like with the
    # r1/r2 records); the default variant mode is oracled separately by
    # validate_json_typed / verdict_counts_json_typed
    return plan.validate(
        doc_df, keys=["event_id"], json_col="payload", json_types="static"
    ).violations


def q_script_fold_docs(spark, sf_dir):
    """Script `for` statements (expr/script.go:422-484) under the
    oracle: per-document fold over the token array accumulating a
    numeric counter and a bounded string — compiled to ONE F.aggregate
    inside the projection (plans/keywords_script.py _exec_for)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    base = docs.select("doc_id", toks.alias("toks"))
    plan = js.compile_schema(
        {
            "script": [
                "n_long = 0",
                "first3 = ''",
                {"for": "i,t in $.toks", "do": [
                    "n_long = ternary(len(t) >= 6, n_long + 1, n_long)",
                    "first3 = ternary(i < 3, '${first3}${t};', first3)",
                ]},
                "$.n_long_out = n_long",
                "$.first3_out = first3",
            ]
        }
    )
    return plan.transform(base).select("doc_id", "n_long_out", "first3_out")


def q_script_rewrite_docs(spark, sf_dir):
    """Per-element mutation in script `for` bodies (reference idiom
    ``v.status = v.data.status``, expr/script_test.go:440; forRange
    expr/script.go:436-484): writes through the loop value var compile
    to ONE F.transform over the array, written back to the document.
    Two sequential loops — the first rewrites/adds fields while an
    accumulator folds, the second does a type-preserving write under a
    value-dependent break (rewritten prefix, untouched suffix)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    items = F.transform(
        F.slice(toks, 1, 8),
        lambda t: F.struct(
            t.alias("w"), F.length(t).cast("double").alias("l")
        ),
    )
    base = docs.select("doc_id", items.alias("items"))
    plan = js.compile_schema(
        {
            "script": [
                "n = 0",
                {"for": "i,v in $.items", "do": [
                    "v.w = to_upper(v.w)",
                    "v.tag = ternary(v.l >= 6, 'long', 'short')",
                    "n = n + v.l",
                ]},
                {"for": "i,v in $.items", "do": [
                    {"if": "v.l >= 9", "then": ["break"]},
                    "v.l = v.l * 2",
                ]},
                "$.n_out = n",
            ]
        }
    )
    out = plan.transform(base)
    rewritten = F.array_join(
        F.transform(
            "items",
            lambda x: F.concat(
                x["w"], F.lit(":"), x["tag"], F.lit(":"),
                x["l"].cast("string"),
            ),
        ),
        "|",
    )
    return out.select("doc_id", rewritten.alias("rewritten"), "n_out")


def _json_events_payload_col():
    """Deterministic JSON payload Column from events (event_id,
    user_id, props)."""
    k = F.get_json_object("props", "$.k").cast("long")
    u = F.col("user_id")
    name_part = (
        F.when(F.pmod(u, 17) == 0, F.lit(""))
        .otherwise(
            F.concat(
                F.lit(', "name": "'),
                F.when(F.pmod(u, 13) == 0, F.lit("x")).otherwise(F.lit("u")),
                F.pmod(u, 50).cast("string"),
                F.lit('"'),
            )
        )
    )
    payload = F.concat(
        F.lit('{"user": {"id": '),
        F.pmod(u, 40).cast("string"),
        name_part,
        F.lit('}, "items": [{"q": '),
        k.cast("string"),
        F.lit('}, {"q": '),
        F.pmod(k * 7, 120).cast("string"),
        F.lit('}], "note": "'),
        F.repeat(F.lit("n"), F.pmod(F.col("event_id"), 15).cast("int")),
        F.lit('"}'),
    )
    return F.when(
        F.pmod(F.col("event_id"), 97) == 0, F.lit('{"broken": ')
    ).otherwise(payload)


def _json_events_payload_df(spark, sf_dir):
    """Shared deterministic JSON payload construction for the
    validate_json_events / verdict_counts_json queries.

    Like _docs(): the testdata parquet is ONE file (one scan
    partition) while parse+validate is CPU-bound — at corpus scale an
    Iceberg scan yields thousands of splits; locally an explicit
    repartition of the 3 needed columns stands in for that."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "props"
    ).repartition(spark.sparkContext.defaultParallelism)
    return ev.select("event_id", _json_events_payload_col().alias("payload"))


def q_verdict_counts_json(spark, sf_dir):
    """The JSON-column predicate hot path (fail_predicate(json_col=))
    under the oracle: one from_json parse + boolean predicate, no
    violation arrays — the 10^12-JSON-turn verdict-counting shape."""
    doc_df = _json_events_payload_df(spark, sf_dir)
    plan = js.compile_schema(JSON_EVENTS_SCHEMA)
    # static pin: like-for-like with r2 (see q_validate_json_events)
    pred = plan.fail_predicate(doc_df, json_col="payload", json_types="static")
    return doc_df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(pred.cast("long")).alias("bad_rows"),
    )


JSON_TYPED_SCHEMA = {
    "required": ["id", "name"],
    "properties": {
        "id": {"type": "integer", "minimum": 1},
        "name": {"type": "string", "minLength": 2},
        "score": {"type": "number|string"},
        "tags": {"maxItems": 3, "items": {"type": "string"}},
    },
}


def _json_typed_payload_df(spark, sf_dir):
    """Deterministic JSON payloads with PLANTED runtime-type hazards —
    wrong-typed fields, union-typed fields, present-null required keys,
    mixed-type arrays — the shapes the static inferred-struct parse
    cannot see (PERMISSIVE from_json nulls them).  Exercises the
    default json_types="variant" runtime dispatch (core/variant.py;
    reference typeOf switch, type.go:3-20)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "props"
    ).repartition(spark.sparkContext.defaultParallelism)
    u = F.col("user_id")
    k = F.get_json_object("props", "$.k").cast("long")
    id_part = (
        F.when(u % 11 == 0, F.concat(F.lit('"x'), (u % 9).cast("string"), F.lit('"')))
        .when(u % 19 == 0, F.concat((u % 40).cast("string"), F.lit(".5")))
        .otherwise((u % 40).cast("string"))
    )
    name_part = (
        F.when(u % 17 == 0, F.lit(""))  # absent -> required fires
        .when(u % 13 == 0, F.lit(', "name": null'))  # present-null -> passes
        .when(u % 29 == 0, F.lit(', "name": "z"'))  # minLength
        .otherwise(
            F.concat(F.lit(', "name": "user'), (u % 50).cast("string"), F.lit('"'))
        )
    )
    score_part = (
        F.when(u % 7 == 0, F.lit("true"))  # union miss
        .when(u % 5 == 0, F.concat(F.lit('"s'), (k % 10).cast("string"), F.lit('"')))
        .otherwise((k % 100).cast("string"))
    )
    tags_part = (
        F.when(k % 10 == 0, F.lit('[1, "a"]'))  # element type error
        .when(k % 9 == 0, F.lit('["a","b","c","d"]'))  # maxItems
        .otherwise(F.lit('["a"]'))
    )
    payload = F.concat(
        F.lit('{"id": '), id_part, name_part,
        F.lit(', "score": '), score_part,
        F.lit(', "tags": '), tags_part, F.lit("}"),
    )
    payload = F.when(
        F.pmod(F.col("event_id"), 101) == 0, F.lit('{"bad": ')
    ).otherwise(payload)
    return ev.select("event_id", payload.alias("payload"))


def q_validate_json_typed(spark, sf_dir):
    """Runtime-type-faithful JSON validation (json_types="variant",
    the DEFAULT json_col mode): ONE try_parse_json into Spark 4's
    Variant binary encoding, every keyword dispatching per row on the
    runtime JSON kind — the exact replica of the reference's
    ``switch value.(type)`` (type.go:3-20, validator_base.go:44-160).
    The planted corpus hits: wrong-typed scalars (Go type labels),
    integer-vs-float, union types, present-null required keys (m[key]
    presence passes), mixed-type array elements, maxItems, malformed
    documents."""
    doc_df = _json_typed_payload_df(spark, sf_dir)
    plan = js.compile_schema(JSON_TYPED_SCHEMA)
    return plan.validate(doc_df, keys=["event_id"], json_col="payload").violations


def q_verdict_counts_json_typed(spark, sf_dir):
    """The variant-mode verdict hot path: fail_verdicts shreds the
    parsed document once into typed per-path columns and evaluates
    each keyword's boolean fails predicate over them, plus malformed —
    verdict counting with runtime type fidelity and no violation
    arrays."""
    doc_df = _json_typed_payload_df(spark, sf_dir)
    plan = js.compile_schema(JSON_TYPED_SCHEMA)
    vdf = plan.fail_verdicts(doc_df, json_col="payload", col="__fails__")
    return vdf.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("__fails__").cast("long")).alias("bad_rows"),
    )


def q_foreach_fold_docs(spark, sf_dir):
    """The foreach keyword's cross-element set-accumulation (reference
    TestForeach shape, foreach.go + benchmark_test.go:411-423) under
    the oracle: per-document fold over the token array via the nested
    F.aggregate TransformOp (plans/keywords_logic._register_foreach_fold)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    base = docs.select("doc_id", toks.alias("toks"))
    plan = js.compile_schema(
        {"foreach": {"toks": {"set": {
            "n_toks": ["add()", "${n_toks}", 1],
            "head": "${head}${__key}:${__val}|",
        }}}}
    )
    out = plan.transform(base)
    # bound output: first 24 chars of the accumulated head string
    return out.select(
        "doc_id",
        F.col("n_toks").alias("n_toks"),
        F.substring("head", 1, 24).alias("head24"),
    )


def q_foreach_rewrite_docs(spark, sf_dir):
    """Per-ELEMENT mutation inside foreach (the reference writes
    through the __val binding into the element itself, foreach.go:
    21-33): each token is rewritten to 'index:token' by ONE
    F.transform (plans/keywords_logic._register_foreach_elem_writes —
    no fold, no shuffle, no Python)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    base = docs.select("doc_id", toks.alias("toks"))
    plan = js.compile_schema(
        {"foreach": {"toks": {"setVal": {"__val": "${__key}:${__val}"}}}}
    )
    out = plan.transform(base)
    return out.select(
        "doc_id",
        F.substring(F.concat_ws("|", "toks"), 1, 40).alias("head40"),
    )


def q_script_break_docs(spark, sf_dir):
    """Index-bounded `break` in a script for-loop (reference errBreak,
    expr/script.go:432-446): the leading break-if compiles to F.slice
    of the iterated prefix, so only the first 5 tokens fold."""
    docs = _docs(spark, sf_dir)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    base = docs.select("doc_id", toks.alias("toks"))
    plan = js.compile_schema(
        {
            "script": [
                "n = 0",
                {"for": "i,t in $.toks", "do": [
                    {"if": "i >= 5", "then": ["break"]},
                    "n = n + len(t)",
                ]},
                "$.chars5 = n",
            ]
        }
    )
    return plan.transform(base).select("doc_id", "chars5")


def q_validate_customer_combinators(spark, sf_dir):
    """Combinator coverage: anyOf (all-branch errors on total miss),
    not, switch/case (SURVEY §2.3) over customer."""
    cust = _t(spark, sf_dir, "customer")
    plan = js.compile_schema(
        {
            "properties": {
                "c_mktsegment": {
                    "anyOf": [
                        {"enum": ["BUILDING", "AUTOMOBILE"]},
                        {"pattern": "^M"},
                    ]
                },
                "c_acctbal": {"not": {"maximum": 0}},
            },
            "switch": "c_mktsegment",
            "case": {"FURNITURE": {"gt": {"c_acctbal": 500}}},
        }
    )
    return plan.validate(cust, keys=["c_custkey"]).violations


def q_events_user_sequence(spark, sf_dir):
    """Skew-safe ordered collect (operators.skew.salted_collect_list):
    per-user event-type sequence under deterministic (ts, event_id)
    ordering, joined to a '>'-separated string for engine-portable
    comparison."""
    from jsonschema_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    secs = F.col("ts").cast("timestamp").cast("long")
    item = F.struct(secs.alias("o1"), F.col("event_id").alias("o2"),
                    F.col("event_type").alias("v"))
    out = salted_agg(
        ev, ["user_id"],
        aggs={"part": F.collect_list(item)},
        merges={"part": F.flatten(F.collect_list("part"))},
        buckets=8,
    )
    seq = F.array_join(F.transform(F.array_sort("part"), lambda s: s["v"]), ">")
    return out.select("user_id", seq.alias("sequence"))


def q_verdict_counts_orders(spark, sf_dir):
    """The verdict hot path (fail_predicate, the keywords' Rule.fails)
    under the oracle: per-status row/bad-row counts from the compiled
    boolean, no violation arrays."""
    orders = _t(spark, sf_dir, "orders")
    plan = js.compile_schema(ORDERS_SCHEMA)
    pred = plan.fail_predicate(orders)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(pred.cast("long")).alias("bad_rows"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------
# conversation-transcript operators (north-rule payload shape)
# --------------------------------------------------------------------

def _transcripts_from_events(ev: DataFrame) -> DataFrame:
    """Deterministic transcript derivation from the events table — the
    north rule's (conv_id, turn_idx, role, text, tool, ts) shape with
    planted sequence hazards: turn-index gaps (event_id%97) and
    timestamp regressions (event_id%89), both applied AFTER the
    row_number so Spark and the oracle agree bit-for-bit.  ``seq``
    carries a unique per-turn tiebreak for the integrity window."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w) - 1
    et = F.col("event_type")
    role = (
        F.when(et == "click", "user")
        .when(et == "view", "assistant")
        .when(et == "purchase", "tool")
        .when(et == "signup", "system")
        .otherwise("assistant")
    )
    return ev.select(
        F.format_string("c%08d", F.col("user_id").cast("bigint")).alias(
            "conv_id"
        ),
        (
            rn
            + F.when(F.col("event_id") % 97 == 3, F.lit(2)).otherwise(F.lit(0))
        ).alias("turn_idx"),
        role.alias("role"),
        F.col("props").alias("text"),
        F.when(et == "purchase", F.lit("checkout"))
        .when(et == "error", F.lit("diagnose"))
        .alias("tool"),
        F.when(
            F.col("event_id") % 89 == 5,
            F.col("ts") - F.expr("INTERVAL 1 HOUR"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
        F.col("event_id").alias("seq"),
    )


TRANSCRIPT_TURN_SCHEMA = {
    # per-turn rules for the flagship table: required core columns,
    # turn budget, byte-length budget on the payload
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "role": {"enum": ["system", "user", "assistant", "tool"]},
        "turn_idx": {"minimum": 0, "maximum": 45},
        "text": {"maxLength": 10},
    },
}


def q_conversation_verdicts(spark, sf_dir):
    """Conversation-level validation verdicts: the row-level compiled
    plan annotates each turn in the codegen projection (no shuffle),
    then ONE map-side-combinable groupBy(conv_id) rolls violations to
    the grain a pipeline gates on — is the WHOLE conversation clean?
    ``(conv_id, n_turns, n_bad_turns, n_violations, clean)``."""
    tdf = _transcripts_from_events(_t(spark, sf_dir, "events"))
    ann = js.compile_schema(TRANSCRIPT_TURN_SCHEMA).annotate(tdf)
    return (
        ann.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum((F.size("violations") > 0).cast("long"))
            .cast("long")
            .alias("n_bad_turns"),
            F.sum(F.size("violations")).cast("long").alias("n_violations"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_bad_turns",
            "n_violations",
            (F.col("n_bad_turns") == 0).alias("clean"),
        )
    )


def q_transcript_integrity(spark, sf_dir):
    """Conversation-sequence validation (operators/transcripts.py):
    turn-index contiguity, timestamp monotonicity and the
    role-transition FSM, all from ONE window pass (single hash shuffle
    on conv_id) + a codegen projection/explode — no self-join."""
    tdf = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return transcripts.conversation_integrity(tdf, order_by=("turn_idx", "seq"))


def q_transcript_skew_report(spark, sf_dir):
    """Key-skew concentration report (skew.skew_report) over the
    transcript conv_id — the quantitative decision input for the north
    rule's salting of hot conversations.  Every 13th user collapses
    into one planted mega-conversation so the hot-key branch
    (suggested_salt > 1) is actually exercised."""
    from jsonschema_spark.operators import skew

    ev = _t(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(F.col("user_id") % 13 == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    tdf = _transcripts_from_events(ev)
    return skew.skew_report(tdf, ["conv_id"], top=10)


def q_fd_part_supplier(spark, sf_dir):
    """Functional-dependency profiling (checks.FunctionalDependency):
    which l_partkey values map to more than one l_suppkey, with row
    counts, exact distinct-dependent counts, and a bounded example
    list (row_number-capped BEFORE collect, so a pathological
    determinant cannot blow a task)."""
    fd = checks.FunctionalDependency(
        determinant=["l_partkey"], dependent="l_suppkey", max_examples=3
    )
    return fd.violating_keys(_t(spark, sf_dir, "lineitem"))


def q_script_builders_docs(spark, sf_dir):
    """r5 stateful-helper analogs end-to-end (str_builder write/string,
    atomic_int add, url.Values set/encode — funcs_obj.go:322,656,859):
    per-document tag built by a threaded builder binding, a counter
    accumulation, and a sorted form-urlencoded query string.  All pure
    codegen (concat/map ops) — map-only, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    plan = js.compile_schema({"script": [
        "b = str_builder()",
        "b.write('doc ', $.doc_id)",
        {"if": "$.lang == 'en'", "then": ["b.write(' [en]')"]},
        "c = atomic_int(0)",
        "$.n = c.add(len($.text))",
        "$.qs = url_new_values().set('lang', $.lang).set('id', $.doc_id).encode()",
        "$.tag = b.string()",
    ]})
    return plan.transform(docs).select("doc_id", "tag", "n", "qs")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compiled schema validation over sf0.001 orders."""
    return q_validate_orders(spark, "/root/testdata/sf0.001")


def _rotate(qs: dict, path: str | None = None) -> dict:
    """Order the registry by rotation_order.json when present (written
    by tools/rotation.py from git diff + CORRECTNESS history): queries
    whose code changed since the last driver round lead, then the
    longest-unverified tail — the driver's oracle gate checks the
    first 50 entries, so the window must track the diff, not a manual
    shuffle (r4 judge #2 / advice #2).

    Only a MISSING file means "no rotation"; a corrupt or truncated one
    raises, because falling back to the unrotated registry would
    silently move changed queries out of the checked window."""
    import json as _json
    import os as _os

    if path is None:
        path = _os.path.join(
            _os.path.dirname(_os.path.abspath(__file__)), "rotation_order.json"
        )
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return qs
    try:
        order = _json.loads(text)["order"]
    except (ValueError, KeyError, TypeError) as e:
        raise RuntimeError(f"corrupt rotation order file {path}: {e!r}") from e
    ranked = [q for q in order if q in qs] + [q for q in qs if q not in order]
    return {q: qs[q] for q in ranked}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate({
        "transcript_integrity": q_transcript_integrity,
        "conversation_verdicts": q_conversation_verdicts,
        "transcript_skew_report": q_transcript_skew_report,
        "fd_part_supplier": q_fd_part_supplier,
        "script_builders_docs": q_script_builders_docs,
        "validate_orders": q_validate_orders,
        "validate_events": q_validate_events,
        "validate_part": q_validate_part,
        "validate_customer_combinators": q_validate_customer_combinators,
        "validate_json_events": q_validate_json_events,
        "script_fold_docs": q_script_fold_docs,
        "script_rewrite_docs": q_script_rewrite_docs,
        "verdict_counts_json": q_verdict_counts_json,
        "validate_json_typed": q_validate_json_typed,
        "verdict_counts_json_typed": q_verdict_counts_json_typed,
        "foreach_fold_docs": q_foreach_fold_docs,
        "foreach_rewrite_docs": q_foreach_rewrite_docs,
        "script_break_docs": q_script_break_docs,
        "verdict_counts_orders": q_verdict_counts_orders,
        "events_top_users": q_events_top_users,
        "stats_by_event_type": q_stats_by_event_type,
        "window_gaps": q_window_gaps,
        "asof_purchase_attribution": q_asof_purchase_attribution,
        "range_join_error_windows": q_range_join_error_windows,
        "rolling_user_activity": q_rolling_user_activity,
        "funnel_events": q_funnel,
        "transform_events": q_transform_events,
        "stats_lineitem": q_stats_lineitem,
        "stats_incremental": q_stats_incremental,
        "uniqueness_lineitem": q_uniqueness_lineitem,
        "uniqueness_verdict": q_uniqueness_verdict,
        "ri_orders_customer": q_ri_orders_customer,
        "customers_without_orders": q_customers_without_orders,
        "drift_quantiles": q_drift_quantiles,
        "drift_psi": q_drift_psi,
        "drift_incremental": q_drift_incremental,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_top_unshipped": q_q3_top_unshipped,
        "q5_nation_revenue": q_q5_nation_revenue,
        "window_rank_events": q_window_rank_events,
        "sessionize_events": q_sessionize_events,
        "events_user_sequence": q_events_user_sequence,
        "rollup_orders": q_rollup_orders,
        "scalar_funcs": q_scalar_funcs,
        "json_extract_events": q_json_extract_events,
    })


# --------------------------------------------------------------------
# oracle SQL (DuckDB dialect, tables pre-registered as views)
# --------------------------------------------------------------------

def _oracle_validate_orders() -> str:
    enum_msg = "value is invalid , shoule be one of [F O]"
    return """
    WITH o AS (SELECT * FROM orders)
    SELECT o_orderkey, '$.o_orderstatus' AS path, '{enum}' AS info
      FROM o WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O')
    UNION ALL
    SELECT o_orderkey, '$.o_totalprice', 'value must be larger or equal than 2000'
      FROM o WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice >= 2000)
    UNION ALL
    SELECT o_orderkey, '$.o_totalprice', 'value must be <= than 400000'
      FROM o WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice <= 400000)
    UNION ALL
    SELECT o_orderkey, '$.o_orderpriority',
           o_orderpriority || ' ,value does not match pattern: ^[1-4]-[A-Z ]+$'
      FROM o WHERE o_orderpriority IS NOT NULL
               AND NOT regexp_matches(o_orderpriority, '^[1-4]-[A-Z ]+$')
    UNION ALL
    SELECT o_orderkey, '$.o_orderkey', 'field is required' FROM o WHERE o_orderkey IS NULL
    UNION ALL
    SELECT o_orderkey, '$.o_custkey', 'field is required' FROM o WHERE o_custkey IS NULL
    UNION ALL
    SELECT o_orderkey, '$.o_orderstatus', 'field is required' FROM o WHERE o_orderstatus IS NULL
    """.replace("{enum}", enum_msg)


def _oracle_validate_events() -> str:
    enum_msg = "value is invalid , shoule be one of [click view purchase signup error]"
    return f"""
    WITH e AS (SELECT * FROM events)
    SELECT event_id, '$.event_type' AS path, '{enum_msg}' AS info
      FROM e WHERE event_type IS NOT NULL
               AND event_type NOT IN ('click','view','purchase','signup','error')
    UNION ALL
    SELECT event_id, '$.value', 'value must be larger or equal than 0'
      FROM e WHERE value IS NOT NULL AND NOT (value >= 0)
    UNION ALL
    SELECT event_id, '$.value', 'value must be <= than 450'
      FROM e WHERE value IS NOT NULL AND NOT (value <= 450)
    UNION ALL
    SELECT event_id, '$.props', props || ' ,value does not match pattern: ^\\{{.*\\}}$'
      FROM e WHERE props IS NOT NULL AND NOT regexp_matches(props, '^\\{{.*\\}}$')
    UNION ALL
    SELECT event_id, '$.event_id', 'field is required' FROM e WHERE event_id IS NULL
    UNION ALL
    SELECT event_id, '$.ts', 'field is required' FROM e WHERE ts IS NULL
    UNION ALL
    SELECT event_id, '$.event_type', 'field is required' FROM e WHERE event_type IS NULL
    UNION ALL
    SELECT event_id, '$.value', 'value must be larger or equal than 5'
      FROM e WHERE event_type = 'purchase' AND value IS NOT NULL AND NOT (value >= 5)
    """


# Deterministic transcript derivation shared by the transcript_* oracles
# — mirrors _transcripts_from_events bit-for-bit (row_number BEFORE the
# planted turn-gap / ts-regression hazards).
_SQL_TRANSCRIPTS = """
      SELECT printf('c%08d', CAST(user_id AS BIGINT)) AS conv_id,
             (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              + CASE WHEN event_id % 97 = 3 THEN 2 ELSE 0 END) AS turn_idx,
             CASE WHEN event_type = 'click' THEN 'user'
                  WHEN event_type = 'view' THEN 'assistant'
                  WHEN event_type = 'purchase' THEN 'tool'
                  WHEN event_type = 'signup' THEN 'system'
                  ELSE 'assistant' END AS role,
             props AS text,
             CASE WHEN event_type = 'purchase' THEN 'checkout'
                  WHEN event_type = 'error' THEN 'diagnose' END AS tool,
             CASE WHEN event_id % 89 = 5 THEN ts - INTERVAL 1 HOUR
                  ELSE ts END AS ts,
             event_id AS seq
      FROM events
"""


def _oracle_transcript_integrity() -> str:
    from jsonschema_spark.operators.transcripts import (
        DEFAULT_FIRST_ROLES,
        DEFAULT_TRANSITIONS,
    )

    allowed = ", ".join(
        f"'{a}>{b}'" for a, b in sorted(DEFAULT_TRANSITIONS)
    )
    first = ", ".join(f"'{r}'" for r in sorted(DEFAULT_FIRST_ROLES))
    return f"""
    WITH t AS ({_SQL_TRANSCRIPTS}),
    l AS (
      SELECT conv_id, turn_idx, role, ts,
             lag(turn_idx) OVER w AS p_turn,
             lag(role) OVER w AS p_role,
             lag(ts) OVER w AS p_ts
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, seq)
    )
    SELECT conv_id, turn_idx, 'turn_sequence' AS "check",
           'first turn index is ' || turn_idx || ' , expected 0' AS info
      FROM l WHERE p_turn IS NULL AND turn_idx <> 0
    UNION ALL
    SELECT conv_id, turn_idx, 'turn_sequence',
           'turn index ' || turn_idx || ' follows ' || p_turn
      FROM l WHERE p_turn IS NOT NULL AND turn_idx <> p_turn + 1
    UNION ALL
    SELECT conv_id, turn_idx, 'ts_monotonic',
           'timestamp regresses within conversation'
      FROM l WHERE p_ts IS NOT NULL AND ts IS NOT NULL AND ts < p_ts
    UNION ALL
    SELECT conv_id, turn_idx, 'role_transition',
           'conversation opens with role ' || role
      FROM l WHERE p_turn IS NULL AND role IS NOT NULL
               AND role NOT IN ({first})
    UNION ALL
    SELECT conv_id, turn_idx, 'role_transition',
           'role ' || role || ' cannot follow ' || p_role
      FROM l WHERE p_role IS NOT NULL AND role IS NOT NULL
               AND (p_role || '>' || role) NOT IN ({allowed})
    """


def _oracle_stats_incremental() -> str:
    # single-pass per-column stats over the FULL table — equality with
    # the engine's two-batch partial merge is the incremental-stats
    # correctness statement
    parts = []
    for c, kind in [
        ("event_id", "num"), ("user_id", "num"), ("event_type", "str"),
        ("value", "num"), ("props", "str"),
    ]:
        if kind == "num":
            mn = f"min(CAST({c} AS DOUBLE))"
            mx = f"max(CAST({c} AS DOUBLE))"
            ms = "CAST(NULL AS VARCHAR)"
            xs = "CAST(NULL AS VARCHAR)"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            ms = f"min(CAST({c} AS VARCHAR))"
            xs = f"max(CAST({c} AS VARCHAR))"
        parts.append(f"""
        SELECT '{c}' AS column, '{kind}' AS kind,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nulls,
               {mn} AS min_num, {mx} AS max_num,
               {ms} AS min_str, {xs} AS max_str
        FROM events""")
    return "\nUNION ALL\n".join(parts)


def oracle_sql() -> dict[str, str]:
    return {
        "validate_orders": _oracle_validate_orders(),
        "validate_events": _oracle_validate_events(),
        "validate_part": """
            WITH p AS (SELECT * FROM part)
            SELECT p_partkey, '$.p_size' AS path,
                   'value must be larger or equal than 1' AS info
              FROM p WHERE p_size IS NOT NULL AND NOT (p_size >= 1)
            UNION ALL
            SELECT p_partkey, '$.p_size', 'value must be <= than 50'
              FROM p WHERE p_size IS NOT NULL AND NOT (p_size <= 50)
            UNION ALL
            SELECT p_partkey, '$.p_size',
                   'value must be multipleOf 5,but:' || CAST(p_size AS VARCHAR)
                   || ', divide:' || CAST(p_size / 5.0 AS VARCHAR)
              FROM p WHERE p_size IS NOT NULL AND p_size % 5 <> 0
            UNION ALL
            SELECT p_partkey, '$.p_retailprice', 'value must be larger or equal than 900'
              FROM p WHERE p_retailprice IS NOT NULL AND NOT (p_retailprice >= 900)
            UNION ALL
            SELECT p_partkey, '$.p_brand',
                   p_brand || ' ,value does not match pattern: ^Brand#[0-9]+$'
              FROM p WHERE p_brand IS NOT NULL
                       AND NOT regexp_matches(p_brand, '^Brand#[0-9]+$')
            UNION ALL
            SELECT p_partkey, '$.p_partkey', 'field is required'
              FROM p WHERE p_partkey IS NULL
        """,
        "validate_customer_combinators": """
            WITH c AS (SELECT * FROM customer)
            SELECT c_custkey, '$.c_mktsegment' AS path,
                   'value is invalid , shoule be one of [BUILDING AUTOMOBILE]' AS info
              FROM c WHERE c_mktsegment IS NOT NULL
                       AND c_mktsegment NOT IN ('BUILDING','AUTOMOBILE')
                       AND NOT regexp_matches(c_mktsegment, '^M')
            UNION ALL
            SELECT c_custkey, '$.c_mktsegment',
                   c_mktsegment || ' ,value does not match pattern: ^M'
              FROM c WHERE c_mktsegment IS NOT NULL
                       AND c_mktsegment NOT IN ('BUILDING','AUTOMOBILE')
                       AND NOT regexp_matches(c_mktsegment, '^M')
            UNION ALL
            SELECT c_custkey, '$.c_acctbal', 'is not valid'
              FROM c WHERE c_acctbal IS NOT NULL AND c_acctbal <= 0
            UNION ALL
            SELECT c_custkey, '$.c_acctbal', 'should greater than 500'
              FROM c WHERE c_mktsegment = 'FURNITURE'
                       AND NOT (c_acctbal > 500)
        """,
        "verdict_counts_json": """
            WITH base AS (
              SELECT event_id, user_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            ),
            p AS (
              SELECT event_id,
                     user_id % 40 AS idv,
                     CASE WHEN user_id % 17 = 0 THEN NULL
                          WHEN user_id % 13 = 0 THEN 'x' || CAST(user_id % 50 AS VARCHAR)
                          ELSE 'u' || CAST(user_id % 50 AS VARCHAR) END AS name,
                     k AS q1, (k * 7) % 120 AS q2,
                     CAST(event_id % 15 AS INT) AS note_len,
                     (event_id % 97 = 0) AS broken
              FROM base
            )
            SELECT count(*) AS rows,
                   CAST(SUM(CASE WHEN broken
                        OR NOT (idv >= 1)
                        OR name IS NULL
                        OR (name IS NOT NULL AND NOT regexp_matches(name, '^u[0-9]+$'))
                        OR q1 > 100 OR q2 > 100
                        OR note_len > 10
                   THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows
            FROM p
        """,
        # variant-mode (runtime type dispatch) queries: the oracle
        # re-derives each planted hazard's violation from the SAME
        # deterministic construction, in pure SQL
        "validate_json_typed": """
            WITH base AS (
              SELECT event_id, user_id AS u,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            ),
            p AS (
              SELECT event_id, u, k,
                     (event_id % 101 = 0) AS broken,
                     (u % 11 = 0) AS id_str,
                     (u % 11 <> 0 AND u % 19 = 0) AS id_flt,
                     CASE WHEN u % 11 = 0 THEN NULL
                          WHEN u % 19 = 0 THEN (u % 40) + 0.5
                          ELSE CAST(u % 40 AS DOUBLE) END AS id_num,
                     (u % 17 = 0) AS name_absent,
                     (u % 17 <> 0 AND u % 13 <> 0 AND u % 29 = 0) AS name_short,
                     (u % 7 = 0) AS score_bool,
                     (k % 10 = 0) AS tags_mixed,
                     (k % 10 <> 0 AND k % 9 = 0) AS tags_long
              FROM base
            )
            SELECT event_id, '$' AS path, 'invalid json document' AS info
              FROM p WHERE broken
            UNION ALL
            SELECT event_id, '$.id',
                   'Invalid type, expected: integer , given: string'
              FROM p WHERE NOT broken AND id_str
            UNION ALL
            SELECT event_id, '$.id',
                   'type should be integer, but float:'
                       || CAST(u % 40 AS VARCHAR) || '.5'
              FROM p WHERE NOT broken AND id_flt
            UNION ALL
            SELECT event_id, '$.id', 'value must be larger or equal than 1'
              FROM p WHERE NOT broken AND id_num IS NOT NULL
                       AND NOT (id_num >= 1)
            UNION ALL
            SELECT event_id, '$.name', 'field is required'
              FROM p WHERE NOT broken AND name_absent
            UNION ALL
            SELECT event_id, '$.name', 'length must be larger or equal than 2'
              FROM p WHERE NOT broken AND name_short
            UNION ALL
            SELECT event_id, '$.score', 'type should be one of number|string'
              FROM p WHERE NOT broken AND score_bool
            UNION ALL
            SELECT event_id, '$.tags[*]',
                   'Invalid type, expected: string , given: float64'
              FROM p WHERE NOT broken AND tags_mixed
            UNION ALL
            SELECT event_id, '$.tags', ' max length is 3'
              FROM p WHERE NOT broken AND tags_long
        """,
        "verdict_counts_json_typed": """
            WITH base AS (
              SELECT event_id, user_id AS u,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            ),
            p AS (
              SELECT event_id,
                     (event_id % 101 = 0) AS broken,
                     (u % 11 = 0) AS id_str,
                     (u % 11 <> 0 AND u % 19 = 0) AS id_flt,
                     CASE WHEN u % 11 = 0 THEN NULL
                          WHEN u % 19 = 0 THEN (u % 40) + 0.5
                          ELSE CAST(u % 40 AS DOUBLE) END AS id_num,
                     (u % 17 = 0) AS name_absent,
                     (u % 17 <> 0 AND u % 13 <> 0 AND u % 29 = 0) AS name_short,
                     (u % 7 = 0) AS score_bool,
                     (k % 10 = 0) AS tags_mixed,
                     (k % 10 <> 0 AND k % 9 = 0) AS tags_long
              FROM base
            )
            SELECT count(*) AS rows,
                   CAST(SUM(CASE WHEN broken OR id_str OR id_flt
                        OR (id_num IS NOT NULL AND NOT (id_num >= 1))
                        OR name_absent OR name_short OR score_bool
                        OR tags_mixed OR tags_long
                   THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows
            FROM p
        """,
        "foreach_rewrite_docs": """
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents
            )
            SELECT doc_id,
                   substr(array_to_string(
                     list_transform(generate_series(1, len(toks)),
                                    i -> CAST(i - 1 AS VARCHAR) || ':' || toks[CAST(i AS INT)]),
                     '|'), 1, 40) AS head40
            FROM d
        """,
        "script_break_docs": """
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents
            )
            SELECT doc_id,
                   CAST(COALESCE(list_sum(list_transform(toks[1:5], t -> strlen(t))), 0)
                        AS DOUBLE) AS chars5
            FROM d
        """,
        "foreach_fold_docs": """
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM d0
            )
            SELECT doc_id,
                   CAST(len(toks) AS DOUBLE) AS n_toks,
                   substr(COALESCE(array_to_string(
                     list_transform(range(1, len(toks) + 1),
                       i -> CAST(i - 1 AS VARCHAR) || ':' || toks[CAST(i AS INT)] || '|'),
                     ''), ''), 1, 24) AS head24
            FROM d
        """.replace("d0", "documents"),
        "script_fold_docs": """
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(list_filter(toks, t -> strlen(t) >= 6)) AS DOUBLE) AS n_long_out,
                   COALESCE(array_to_string(list_transform(toks[1:3], t -> t || ';'), ''), '')
                       AS first3_out
            FROM d
        """,
        "script_rewrite_docs": """
            WITH d AS (
              SELECT doc_id,
                     list_transform(
                       string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[1:8],
                       t -> struct_pack(w := t, l := CAST(strlen(t) AS DOUBLE))
                     ) AS items
              FROM documents
            ),
            r1 AS (
              SELECT doc_id,
                     list_transform(items, x -> struct_pack(
                       w := upper(x.w), l := x.l,
                       tag := CASE WHEN x.l >= 6 THEN 'long' ELSE 'short' END
                     )) AS items,
                     COALESCE(list_sum(list_transform(items, x -> x.l)), 0) AS n_out
              FROM d
            ),
            r2 AS (
              SELECT doc_id, n_out, items,
                     COALESCE(
                       NULLIF(list_position(list_transform(items, x -> x.l >= 9), true), 0) - 1,
                       len(items)
                     ) AS nk
              FROM r1
            ),
            r3 AS (
              SELECT doc_id, n_out,
                     list_transform(items, (x, i) -> CASE
                       WHEN i <= nk THEN struct_pack(w := x.w, l := x.l * 2, tag := x.tag)
                       ELSE x END) AS items
              FROM r2
            )
            SELECT doc_id,
                   COALESCE(array_to_string(
                     list_transform(items, x -> x.w || ':' || x.tag || ':' || CAST(x.l AS VARCHAR)),
                     '|'), '') AS rewritten,
                   CAST(n_out AS DOUBLE) AS n_out
            FROM r3
        """,
        "validate_json_events": """
            WITH base AS (
              SELECT event_id, user_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            ),
            p AS (
              SELECT event_id,
                     user_id % 40 AS idv,
                     CASE WHEN user_id % 17 = 0 THEN NULL
                          WHEN user_id % 13 = 0 THEN 'x' || CAST(user_id % 50 AS VARCHAR)
                          ELSE 'u' || CAST(user_id % 50 AS VARCHAR) END AS name,
                     k AS q1, (k * 7) % 120 AS q2,
                     CAST(event_id % 15 AS INT) AS note_len,
                     (event_id % 97 = 0) AS broken
              FROM base
            )
            SELECT event_id, '$' AS path, 'invalid json document' AS info
              FROM p WHERE broken
            UNION ALL
            SELECT event_id, '$.user.id', 'value must be larger or equal than 1'
              FROM p WHERE NOT broken AND NOT (idv >= 1)
            UNION ALL
            SELECT event_id, '$.user.name', 'field is required'
              FROM p WHERE NOT broken AND name IS NULL
            UNION ALL
            SELECT event_id, '$.user.name',
                   name || ' ,value does not match pattern: ^u[0-9]+$'
              FROM p WHERE NOT broken AND name IS NOT NULL
                       AND NOT regexp_matches(name, '^u[0-9]+$')
            UNION ALL
            SELECT event_id, '$.items[*].q', 'value must be <= than 100'
              FROM p WHERE NOT broken AND q1 > 100
            UNION ALL
            SELECT event_id, '$.items[*].q', 'value must be <= than 100'
              FROM p WHERE NOT broken AND q2 > 100
            UNION ALL
            SELECT event_id, '$.note', 'length must be less or equal than 10'
              FROM p WHERE NOT broken AND note_len > 10
        """,
        "verdict_counts_orders": """
            SELECT o_orderstatus, count(*) AS rows,
                   CAST(SUM(CASE WHEN
                        (o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O'))
                     OR (o_totalprice IS NOT NULL AND NOT (o_totalprice >= 2000))
                     OR (o_totalprice IS NOT NULL AND NOT (o_totalprice <= 400000))
                     OR (o_orderpriority IS NOT NULL
                         AND NOT regexp_matches(o_orderpriority, '^[1-4]-[A-Z ]+$'))
                     OR o_orderkey IS NULL OR o_custkey IS NULL OR o_orderstatus IS NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows
            FROM orders GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "events_top_users": """
            SELECT user_id, count(*) AS n_events FROM events
            GROUP BY user_id
            ORDER BY n_events DESC, user_id LIMIT 10
        """,
        "stats_by_event_type": """
            SELECT event_type, count(*) AS n,
                   round(SUM(CAST(ROUND(value * 10000) AS BIGINT)) / 10000.0 / count(*), 6)
                       AS avg_value,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   count(DISTINCT user_id) AS users
            FROM events GROUP BY event_type
        """,
        "funnel_events": """
        WITH e AS (SELECT user_id, event_type, ts FROM events
                   WHERE event_type IN ('view', 'click', 'purchase')),
        s1 AS (SELECT user_id, min(ts) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > s1.t1
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2
               GROUP BY e.user_id),
        users AS (SELECT DISTINCT user_id FROM e)
        SELECT user_id,
               CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2
                    WHEN t1 IS NOT NULL THEN 1
                    ELSE 0 END AS steps_completed
        FROM users
        LEFT JOIN s1 USING (user_id)
        LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
        """,
        "window_gaps": """
            SELECT user_id, event_id, gap_sec FROM (
              SELECT user_id, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) -
                     lag(CAST(floor(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_sec
              FROM events
            ) WHERE gap_sec IS NOT NULL
        """,
        "asof_purchase_attribution": """
            WITH c AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'click'
            ),
            p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ),
            j AS (
              SELECT p.event_id, p.user_id,
                     c.event_id AS click_event_id,
                     epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
                     row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY c.ts DESC, c.event_id DESC
                     ) AS rn
              FROM p LEFT JOIN c
                ON c.user_id = p.user_id AND c.ts <= p.ts
            )
            SELECT event_id, user_id, click_event_id, gap_us
            FROM j WHERE rn = 1
        """,
        "range_join_error_windows": """
            WITH w AS (
              SELECT event_id AS window_id, user_id,
                     ts AS w_start, ts + INTERVAL 48 HOUR AS w_end
              FROM events WHERE event_type = 'error'
            ),
            o AS (
              SELECT user_id, ts, event_id,
                     CAST(round(value * 1000000.0) AS BIGINT) AS v6
              FROM events WHERE event_type <> 'error'
            ),
            j AS (
              SELECT w.window_id, w.user_id, o.event_id, o.v6
              FROM w LEFT JOIN o
                ON o.user_id = w.user_id
               AND o.ts >= w.w_start AND o.ts < w.w_end
            )
            SELECT window_id, user_id,
                   COUNT(event_id) AS n_events,
                   round(CAST(COALESCE(SUM(v6), 0) AS DOUBLE) / 1000000.0, 6)
                     AS sum_value
            FROM j GROUP BY window_id, user_id
        """,

        "rolling_user_activity": """
            SELECT event_id, user_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_7d,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                        AS BIGINT) AS cents_7d
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
            )
        """,


        "transform_events": """
            SELECT event_id,
                   COALESCE(props, '{}') AS props,
                   UPPER(event_type) AS event_type_u,
                   'web' AS channel,
                   UPPER(event_type) || ':' || CAST(event_id AS VARCHAR) AS tag
            FROM events
        """,
        "stats_lineitem": """
            SELECT count(*) AS row_count,
                   count(*) FILTER (WHERE l_quantity IS NULL) AS qty_nulls,
                   min(l_quantity) AS qty_min,
                   max(l_quantity) AS qty_max,
                   count(DISTINCT l_partkey) AS partkey_distinct,
                   count(DISTINCT l_returnflag) AS returnflag_distinct,
                   CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS shipdate_min,
                   CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS shipdate_max
            FROM lineitem
        """,
        "uniqueness_lineitem": """
            SELECT l_orderkey, l_linenumber, count(*) AS dup_count
            FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
        """,
        "uniqueness_verdict": """
            WITH dups AS (
              SELECT count(*) AS dup_keys, COALESCE(SUM(c - 1), 0) AS extra
              FROM (SELECT count(*) AS c FROM lineitem
                    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
            )
            SELECT 'ALL' AS partition_id, 'uniqueness' AS "check",
                   extra = 0 AS pass, CAST(extra AS BIGINT) AS violation_count,
                   CAST(dup_keys AS VARCHAR) AS dup_keys
            FROM dups
        """,
        "ri_orders_customer": """
            SELECT o_custkey, count(*) AS orphan_rows
            FROM orders WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer)
            GROUP BY o_custkey
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "drift_quantiles": """
            WITH h AS (SELECT event_id % 2 AS half, value FROM events),
            q AS (
              SELECT half,
                     quantile_cont(value, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qs
              FROM h GROUP BY half
            )
            SELECT CAST(half AS INT) AS half,
                   CAST(u.i - 1 AS INT) AS q_idx,
                   round(qs[CAST(u.i AS INT)], 6) AS q_value
            FROM q, LATERAL (SELECT unnest(range(1, 12)) AS i) u
        """,
        "drift_psi": """
            WITH b AS (
              SELECT least(CAST(floor(value / 50) AS INT), 9) AS bin,
                     CAST(event_id % 2 AS INT) AS half
              FROM events
            ),
            hist AS (
              SELECT bin,
                     SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
                     SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
              FROM b GROUP BY bin
            ),
            tot AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM hist)
            SELECT round(SUM(((n0 + 0.5) / (t0 + 5.0) - (n1 + 0.5) / (t1 + 5.0))
                             * ln(((n0 + 0.5) / (t0 + 5.0)) / ((n1 + 0.5) / (t1 + 5.0)))), 6) AS psi
            FROM hist, tot
        """,
        "drift_incremental": """
            WITH b AS (
              SELECT LEAST(GREATEST(CAST(floor(value / 50) AS INT), 0), 9) AS bin,
                     CAST(event_id % 2 AS INT) AS half
              FROM events WHERE value IS NOT NULL
            ),
            hist AS (
              SELECT bin,
                     SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_base,
                     SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_cur
              FROM b GROUP BY bin
            ),
            tot AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM hist),
            psi AS (
              SELECT round(SUM(((n_cur + 0.5) / (tc + 5.0) - (n_base + 0.5) / (tb + 5.0))
                       * ln(((n_cur + 0.5) / (tc + 5.0)) / ((n_base + 0.5) / (tb + 5.0)))), 6) AS psi
              FROM hist, tot
            )
            SELECT CAST(bin AS INT) AS bin,
                   CAST(n_base AS BIGINT) AS n_base,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   psi
            FROM hist, psi
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(ROUND(l_quantity * 10000) AS BIGINT)) / 10000.0 AS sum_qty,
                   SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)) / 10000.0 AS sum_base_price,
                   SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_unshipped": """
            SELECT l_orderkey,
                   SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
                       AS revenue,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
                   o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) DESC,
                     l_orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                        AS DOUBLE) / 10000.0 AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY n_name
        """,
        "window_rank_events": """
            SELECT user_id, event_id, rn, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "sessionize_events": """
            WITH w AS (
              SELECT user_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS secs,
                     lag(CAST(floor(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            )
            SELECT user_id,
                   CAST(SUM(CASE WHEN prev IS NULL OR secs - prev > 1800 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM w GROUP BY user_id
            ORDER BY user_id
        """,
        "events_user_sequence": """
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
                       AS sequence
            FROM events GROUP BY user_id
        """,
        "rollup_orders": """
            SELECT COALESCE(o_orderstatus, '(all)') AS status,
                   COALESCE(o_orderpriority, '(all)') AS priority,
                   count(*) AS n
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "scalar_funcs": """
            SELECT o_orderkey,
                   md5(o_orderpriority) AS prio_md5,
                   sha256(o_orderstatus) AS status_sha256,
                   upper(o_orderpriority) AS prio_upper,
                   substr(o_orderpriority, 1, 1) AS prio_class,
                   o_orderstatus || ':' || CAST(o_orderkey AS VARCHAR) AS tag,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                   length(o_orderpriority) AS prio_len
            FROM orders
        """,
        "json_extract_events": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        """,
        "transcript_integrity": _oracle_transcript_integrity(),
        "stats_incremental": _oracle_stats_incremental(),
        "conversation_verdicts": _oracle_conversation_verdicts(),
        "transcript_skew_report": _oracle_transcript_skew_report(),
        "fd_part_supplier": _oracle_fd_part_supplier(),
        "script_builders_docs": """
    SELECT doc_id,
           'doc ' || CAST(doc_id AS VARCHAR)
               || CASE WHEN lang = 'en' THEN ' [en]' ELSE '' END AS tag,
           CAST(length(text) AS DOUBLE) AS n,
           'id=' || CAST(doc_id AS VARCHAR) || '&lang=' || lang AS qs
    FROM documents
    """,
    }


def _oracle_fd_part_supplier() -> str:
    """Exact per-determinant counts + slice-of-sorted distinct
    dependents (== the engine's row_number-capped example list)."""
    return """
    WITH stats AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_dep
      FROM lineitem GROUP BY l_partkey
    ),
    pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_suppkey IS NOT NULL
    ),
    ex AS (
      SELECT l_partkey,
             array_to_string(list_transform(
                 list_slice(list(l_suppkey ORDER BY l_suppkey), 1, 3),
                 y -> CAST(y AS VARCHAR)), ',') AS examples
      FROM pairs GROUP BY l_partkey
    )
    SELECT s.l_partkey, s.n_rows, s.n_dep, e.examples
    FROM stats s JOIN ex e ON e.l_partkey = s.l_partkey
    WHERE s.n_dep > 1
    """


def _oracle_transcript_skew_report(top: int = 10) -> str:
    """Replays the planted hot-user collapse, the transcript
    derivation, and the one-row concentration report; sum(cnt*cnt) is
    exact (HUGEINT) with ONE final double division, so hhi is
    aggregation-order-free on both engines."""
    t_sql = _SQL_TRANSCRIPTS.replace("FROM events", "FROM ev_hot")
    return f"""
    WITH ev_hot AS (
      SELECT event_id, ts,
             CASE WHEN user_id % 13 = 0 THEN 1 ELSE user_id END AS user_id,
             event_type, value, props
      FROM events
    ),
    t AS ({t_sql}),
    c AS (
      SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY conv_id
    ),
    g AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
             round(quantile_cont(cnt, 0.5), 3) AS p50_key_rows,
             round(quantile_cont(cnt, 0.99), 3) AS p99_key_rows,
             SUM(cnt * cnt) AS sumsq
      FROM c
    ),
    tk AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS topc FROM (
        SELECT cnt FROM c ORDER BY cnt DESC, conv_id ASC LIMIT {top}
      )
    )
    SELECT n_rows, n_keys, max_key_rows, p50_key_rows, p99_key_rows,
           round(CAST(topc AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
             AS top_share,
           round(CAST(sumsq AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)), 9)
             AS hhi,
           CAST(ceil(CAST(max_key_rows AS DOUBLE)
                     / greatest(1.0, 4.0 * (CAST(n_rows AS DOUBLE)
                                            / CAST(n_keys AS DOUBLE))))
                AS BIGINT) AS suggested_salt
    FROM g CROSS JOIN tk
    """


def _oracle_conversation_verdicts() -> str:
    # per-turn violation count replayed (required text / octet-length
    # budget / turn budget; the always-passing sites contribute 0),
    # then the conversation rollup
    return f"""
    WITH t AS ({_SQL_TRANSCRIPTS}),
    v AS (
      SELECT conv_id,
             (CASE WHEN text IS NULL THEN 1 ELSE 0 END
              + CASE WHEN text IS NOT NULL AND strlen(text) > 10
                     THEN 1 ELSE 0 END
              + CASE WHEN turn_idx > 45 THEN 1 ELSE 0 END) AS nv
      FROM t
    )
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_turns,
           CAST(SUM(nv) AS BIGINT) AS n_violations,
           SUM(CASE WHEN nv > 0 THEN 1 ELSE 0 END) = 0 AS clean
    FROM v GROUP BY conv_id
    """
