"""Incremental, mergeable column stats over an append-only corpus.

At 10^12 rows you cannot rescan history every time a batch of new
partitions lands.  This module persists per-(partition, column) stat
PARTIALS — counts, typed min/max, and a DataSketches HLL binary
(``F.hll_sketch_agg``) — and answers corpus-wide stats by merging the
stored partials: counts add, min/max fold, sketches union
(``F.hll_union_agg``).  The merge input is one tiny row per
(partition, column), so refreshing global stats after a new batch
costs one scan of the BATCH plus a metadata-sized merge — never a
rescan of history.

``approx_count_distinct`` cannot do this (its HLL++ partial state is
not exposed); the DataSketches functions are the supported mergeable
carrier.  The north star's "cardinality via HyperLogLog sketches"
is exactly this surface.

Reference parity: the reference engine (seeadoog/jsonschema) validates
documents one at a time and keeps no corpus state; incremental stats
are an engine-level addition (SURVEY §2.9) required by the resumable
checkpoint story.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..sources.tables import read_store
from .checks import _partition_id

PARTIAL_COLS = (
    "partition_id string, column string, kind string, n_rows long, "
    "n_nulls long, min_num double, max_num double, min_str string, "
    "max_str string, hll binary"
)
HIST_COLS = "partition_id string, column string, bin int, n long"


def stats_partials(
    df: DataFrame,
    columns: list[str],
    partition_by: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Per-(partition, column) mergeable stat partials in ONE
    aggregation pass: row/null counts, typed min/max (numeric columns
    keep a double min/max so the cross-partition fold is numeric, not
    lexicographic), and an HLL sketch of the column's values.

    lg_k=12 → 4 KiB sketch per (partition, column), ±1.6% rel. error —
    the store stays metadata-sized even at millions of partitions.
    """
    aggs: list[Column] = []
    kinds: dict[str, bool] = {}
    for c in columns:
        col = F.col(c)
        is_num = isinstance(df.schema[c].dataType, NumericType)
        kinds[c] = is_num
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            (
                F.min(col).cast("double")
                if is_num
                else F.lit(None).cast("double")
            ).alias(f"{c}__minn"),
            (
                F.max(col).cast("double")
                if is_num
                else F.lit(None).cast("double")
            ).alias(f"{c}__maxn"),
            # string slots only for non-numeric columns: numeric
            # columns fold on the double slots, and double→string
            # renderings are engine-specific (not oracle-stable)
            (
                F.lit(None).cast("string")
                if is_num
                else F.min(col.cast("string"))
            ).alias(f"{c}__mins"),
            (
                F.lit(None).cast("string")
                if is_num
                else F.max(col.cast("string"))
            ).alias(f"{c}__maxs"),
            F.hll_sketch_agg(col.cast("string"), lg_k).alias(f"{c}__hll"),
        ]
    g = df.groupBy(_partition_id(partition_by).alias("partition_id")).agg(
        *aggs
    )
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit("num" if kinds[c] else "str").alias("kind"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__minn").alias("min_num"),
                F.col(f"{c}__maxn").alias("max_num"),
                F.col(f"{c}__mins").alias("min_str"),
                F.col(f"{c}__maxs").alias("max_str"),
                F.col(f"{c}__hll").alias("hll"),
            )
            for c in columns
        ]
    )
    return g.select("partition_id", F.explode(per_col).alias("s")).select(
        "partition_id", "s.*"
    )


def merge_partials(partials: DataFrame) -> DataFrame:
    """Fold partials into corpus-wide per-column stats: counts add,
    min/max fold (numeric fold on the double slots), sketches union →
    ``n_distinct_est``.  Input is partition-count × column-count rows —
    driver-small at any corpus size — but the merge itself is still a
    distributed aggregation (no collect)."""
    g = partials.groupBy("column", "kind").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
        F.hll_union_agg("hll").alias("hll"),
    )
    return g.select(
        "column",
        "kind",
        "n_rows",
        "n_nulls",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
        F.hll_sketch_estimate("hll").alias("n_distinct_est"),
    )


def hist_partials(
    df: DataFrame,
    column: str,
    edges: list[float],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Per-partition fixed-edge histogram partials — the mergeable
    carrier for incremental distribution drift.

    ``edges`` are the interior cut points (sorted ascending); a value
    lands in bin = number of edges <= value, i.e. bin 0 is
    (-inf, edges[0]) and bin len(edges) is [edges[-1], +inf).  The bin
    arithmetic is ONE ``F.aggregate`` over a literal array — columnar,
    codegen, and bit-for-bit reproducible in ANSI SQL (the oracle
    replays the same comparison count), unlike quantile sketches whose
    summaries are estimator-specific.  Nulls are excluded (drift is
    over observed values; null-rate drift is already covered by the
    stats partials' n_nulls).

    Merging partials = adding counts, so a new batch costs one batch
    scan; corpus-wide drift never rescans history.
    """
    if sorted(edges) != list(edges):
        raise ValueError("hist_partials: edges must be sorted ascending")
    col = F.col(column).cast("double")
    bin_ = F.aggregate(
        F.array(*[F.lit(float(e)) for e in edges]),
        F.lit(0),
        lambda acc, e: acc + (col >= e).cast("int"),
    )
    return (
        df.filter(col.isNotNull())
        .groupBy(
            _partition_id(partition_by).alias("partition_id"),
            bin_.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "partition_id",
            F.lit(column).alias("column"),
            F.col("bin").cast("int").alias("bin"),
            "n",
        )
    )


def merge_hists(partials: DataFrame) -> DataFrame:
    """Fold histogram partials into corpus-wide per-bin counts (counts
    add; the merge input is partitions x bins rows — metadata-sized)."""
    return partials.groupBy("column", "bin").agg(F.sum("n").alias("n"))


def psi_between(
    base: DataFrame, cur: DataFrame, n_bins: int
) -> DataFrame:
    """PSI of ``cur`` vs ``base`` from two merged histograms (same
    ``column``/``bin``/``n`` shape), one row per column.

    Laplace smoothing (n + 0.5) / (total + 0.5 * n_bins) keeps bins
    empty on one side finite — the same convention the drift_psi
    oracle query pins.  A full outer join on (column, bin) means a bin
    present on only one side still contributes its term instead of
    silently dropping.  Everything stays a Column expression: the
    whole comparison is a join of two metadata-sized tables.
    """
    b = base.select("column", "bin", F.col("n").alias("n_base"))
    c = cur.select("column", "bin", F.col("n").alias("n_cur"))
    j = b.join(c, ["column", "bin"], "full_outer").fillna(
        0, subset=["n_base", "n_cur"]
    )
    tot = j.groupBy("column").agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    j = j.join(F.broadcast(tot), "column")
    p = (F.col("n_base") + 0.5) / (F.col("t_base") + 0.5 * n_bins)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * n_bins)
    term = (q - p) * F.log(q / p)
    return (
        j.select("column", term.alias("term"))
        .groupBy("column")
        .agg(F.sum("term").alias("psi"))
    )


@dataclass
class HistStore:
    """Append-only histogram-partials store: the drift analog of
    StatsStore.  Each ingest appends one batch's per-(partition, bin)
    counts, skipping partitions already present (idempotent re-ingest
    after a crash between write and acknowledge); ``current`` merges
    the whole store; ``psi_vs`` compares the merged store against a
    baseline store/DataFrame without touching any fact table.
    """

    path: str
    column: str
    edges: list[float]

    def ingest(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        spark = df.sparkSession
        partials = hist_partials(df, self.column, self.edges, partition_by)
        seen = {
            r["partition_id"]
            for r in read_store(spark, self.path, HIST_COLS)
            .select("partition_id")
            .distinct()
            .collect()
        }
        if seen:
            partials = partials.filter(
                ~F.col("partition_id").isin(sorted(seen))
            )
        rows = partials.persist()
        n = rows.count()
        if n:
            rows.write.mode("append").parquet(self.path)
        rows.unpersist()
        return n

    def current(self, spark: SparkSession) -> DataFrame:
        return merge_hists(spark.read.parquet(self.path))

    def psi_vs(self, spark: SparkSession, baseline: "HistStore") -> DataFrame:
        if baseline.edges != self.edges:
            raise ValueError("psi_vs: baseline edges differ")
        return psi_between(
            baseline.current(spark), self.current(spark), len(self.edges) + 1
        )


@dataclass
class StatsStore:
    """Append-only partial-stats store backing incremental corpus
    stats.

    ``ingest`` computes partials for a new batch and appends them,
    skipping any partition_id already present (the store's distinct
    partition list is metadata-sized — reading it is NOT a corpus
    scan).  ``current`` merges everything in the store.  Idempotent
    re-ingest of the same batch is therefore a no-op, which is the
    property a resumable pipeline needs after a crash between write
    and acknowledge.
    """

    path: str

    def ingest(
        self,
        df: DataFrame,
        columns: list[str],
        partition_by: list[str] | None = None,
        lg_k: int = 12,
    ) -> int:
        spark = df.sparkSession
        partials = stats_partials(df, columns, partition_by, lg_k)
        seen = {
            r["partition_id"]
            for r in read_store(spark, self.path, PARTIAL_COLS)
            .select("partition_id")
            .distinct()
            .collect()
        }
        if seen:
            partials = partials.filter(
                ~F.col("partition_id").isin(sorted(seen))
            )
        rows = partials.persist()
        n = rows.count()
        if n:
            rows.write.mode("append").parquet(self.path)
        rows.unpersist()
        return n

    def current(self, spark: SparkSession) -> DataFrame:
        return merge_partials(spark.read.parquet(self.path))
