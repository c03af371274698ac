"""Table-level checks — the dataset-scale operators the north star adds
on top of the reference's row-level keyword engine (SURVEY.md §2.9).

The reference (seeadoog/jsonschema) has zero cross-document state: every
check is per-document (schema.go:89-106 walks one value).  At 10^12-turn
scale the engine additionally needs:

  * ColumnStats   — one aggregation pass per table: row count, null
                    rate, min/max, cardinality (exact or HyperLogLog via
                    approx_count_distinct).
  * Uniqueness    — duplicate (conv_id, turn_idx)-style key detection as
                    a two-phase salted hash aggregation (map-side partial
                    combine + shuffle on the composite key, so hot
                    conv_ids cannot skew a single reducer).
  * ReferentialIntegrity — membership of a fact column in a dimension
                    table via BROADCAST anti-join (violation rows) /
                    left join (verdicts, fused with the other
                    aggregations); never a sort-merge join at dimension
                    sizes.
  * Drift         — distribution drift of a numeric column vs a baseline
                    via quantile sketches (percentile_approx ≈ KLL/GK)
                    compared with PSI and KS statistics.

Every check emits verdict rows in a common schema (FIXTURES.md §3)::

    verdicts(partition_id string, check string, pass boolean,
             violation_count long, metrics map<string,string>)

`partition_id` is derived from user-supplied partition columns (e.g.
``days(ts)`` for an Iceberg-partitioned transcript table) so verdicts
line up 1:1 with table partitions and feed the checkpoint/resume
manifest (jsonschema_spark/checkpoint.py).

Scale notes (100 TB / 1000 executors):
  - Stats and drift are single-pass ``agg`` — map-side partial merge,
    one tiny shuffle of per-partition sketch states.
  - Uniqueness shuffles once on the *composite* key; composite-key hash
    partitioning already spreads hot conv_ids, and an optional explicit
    salt (``salt_buckets``) two-phases low-cardinality keys.
  - RI broadcasts the dim table (bounded: roles ~4 rows, tools ~10^2);
    the fact side is never shuffled.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

VERDICT_SCHEMA = (
    "partition_id string, check string, pass boolean, "
    "violation_count long, metrics map<string,string>"
)


def _partition_id(partition_by: Sequence[str] | None) -> Column:
    """Stable string partition id from the partition columns
    ('ALL' for unpartitioned tables)."""
    if not partition_by:
        return F.lit("ALL")
    # NULL partition values render with Hive's standard sentinel —
    # F.concat would NULL the segment and concat_ws would silently drop
    # it, and a plain "null" would collide with a real string 'null',
    # letting a resume skip a never-run NULL partition.
    return F.concat_ws(
        "/",
        *[
            F.concat(
                F.lit(f"{c}="),
                F.coalesce(
                    F.col(c).cast("string"), F.lit("__HIVE_DEFAULT_PARTITION__")
                ),
            )
            for c in partition_by
        ],
    )


def _sql_str(s: str) -> str:
    """``s`` as a SQL string expression that reads the same under either
    ``spark.sql.parser.escapedStringLiterals`` setting: its UTF-8 bytes
    as a binary literal, cast to string, so no quote or backslash ever
    sits inside a quoted literal."""
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _sql_double(x: float) -> str:
    """``x`` as a SQL DOUBLE literal (an unsuffixed ``1.5`` parses as
    DECIMAL); ``repr`` round-trips every finite double exactly."""
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _sql_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _verdict_select(check_name: str, fail_count: Column, metrics: Column):
    return [
        F.col("partition_id"),
        F.lit(check_name).alias("check"),
        (fail_count == 0).alias("pass"),
        fail_count.cast("long").alias("violation_count"),
        metrics.alias("metrics"),
    ]


def _verdict_struct(check_name: str, fail_count: Column, metrics: Column) -> Column:
    """One verdict row as a struct — lets several fused checks emit
    from ONE select via explode(array(...)), keeping a single scan."""
    return F.struct(
        F.col("partition_id").alias("partition_id"),
        F.lit(check_name).alias("check"),
        (fail_count == 0).alias("pass"),
        fail_count.cast("long").alias("violation_count"),
        metrics.alias("metrics"),
    )


class Check:
    """Base class: a named table-level check producing verdict rows and
    (optionally) violation rows."""

    name: str = "check"

    def verdicts(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def violations(self, df: DataFrame) -> DataFrame | None:
        return None


@dataclass
class ColumnStats(Check):
    """Per-column stats in ONE aggregation pass (no per-column jobs):
    count, null count/rate, min, max, distinct cardinality.

    ``approx=True`` uses approx_count_distinct (HyperLogLog++, rsd
    configurable) — the only sane choice at 10^12 rows; ``approx=False``
    is exact count(distinct) for oracle-matched tests.

    Expectations (optional) turn stats into a pass/fail verdict:
    ``{"col": {"max_null_rate": 0.01, "min": 0, "max": 10}}``.
    """

    columns: Sequence[str]
    partition_by: Sequence[str] | None = None
    approx: bool = True
    # rsd 0.05 = Spark's default HLL precision; tighter values blow up
    # the per-group sketch buffer (rsd 0.01 ≈ 1.7k longs PER COLUMN,
    # which forces SortAggregate and a huge shuffle of partial states)
    rsd: float = 0.05
    expectations: dict = field(default_factory=dict)
    name: str = "column_stats"

    def _agg_exprs(self, p: str = "") -> list[Column]:
        aggs: list[Column] = [F.count(F.lit(1)).alias(f"{p}row_count")]
        for c in self.columns:
            col = F.col(c)
            aggs.append(F.sum(col.isNull().cast("long")).alias(f"{p}{c}__nulls"))
            aggs.append(F.min(col).cast("string").alias(f"{p}{c}__min"))
            aggs.append(F.max(col).cast("string").alias(f"{p}{c}__max"))
            if self.approx:
                aggs.append(
                    F.approx_count_distinct(c, self.rsd).alias(f"{p}{c}__distinct")
                )
            else:
                aggs.append(F.count_distinct(col).alias(f"{p}{c}__distinct"))
        return aggs

    def stats(self, df: DataFrame) -> DataFrame:
        g = df.groupBy(_partition_id(self.partition_by).alias("partition_id"))
        return g.agg(*self._agg_exprs())

    def _verdict_parts(self, p: str = "") -> tuple[Column, Column]:
        entries: list[Column] = [
            F.lit("row_count"),
            F.col(f"{p}row_count").cast("string"),
        ]
        fail = F.lit(0)
        for c in self.columns:
            null_rate = F.col(f"{p}{c}__nulls") / F.col(f"{p}row_count")
            entries += [
                F.lit(f"{c}.null_rate"), F.format_string("%.6f", null_rate),
                F.lit(f"{c}.min"), F.coalesce(F.col(f"{p}{c}__min"), F.lit("")),
                F.lit(f"{c}.max"), F.coalesce(F.col(f"{p}{c}__max"), F.lit("")),
                F.lit(f"{c}.distinct"), F.col(f"{p}{c}__distinct").cast("string"),
            ]
            exp = self.expectations.get(c, {})
            if "max_null_rate" in exp:
                fail = fail + (null_rate > exp["max_null_rate"]).cast("int")
            if "min" in exp:
                fail = fail + (F.col(f"{p}{c}__min").cast("double") < exp["min"]).cast("int")
            if "max" in exp:
                fail = fail + (F.col(f"{p}{c}__max").cast("double") > exp["max"]).cast("int")
            if "min_distinct" in exp:
                fail = fail + (F.col(f"{p}{c}__distinct") < exp["min_distinct"]).cast("int")
        return fail, F.create_map(*entries)

    def verdicts(self, df: DataFrame) -> DataFrame:
        fail, metrics = self._verdict_parts()
        return self.stats(df).select(*_verdict_select(self.name, fail, metrics))

    def fused_aggs(self, df: DataFrame, prefix: str | None = None):
        """(agg exprs, verdict-struct builder) for CheckSuite.run's
        single-pass fusion: column aliases are prefixed (caller supplies
        a unique prefix, so same-named checks cannot collide) and
        multiple checks share one groupBy(partition_id).agg(...)."""
        p = prefix or f"__{self.name}__"

        def build() -> Column:
            fail, metrics = self._verdict_parts(p)
            return _verdict_struct(self.name, fail, metrics)

        return self._agg_exprs(p), build


@dataclass
class Uniqueness(Check):
    """Duplicate detection on a composite key.

    Physical plan (default): hash-partitioned two-phase aggregation on
    the full composite key (partial count map-side, final count
    post-shuffle) → filter count > 1.  The shuffle key spreads a hot
    conv_id over its distinct (conv_id, turn_idx) keys; true
    duplicate storms are compacted by the map-side partials, and
    ``salt_buckets`` adds an explicit ``pmod(xxhash64(keys), k)``
    pre-aggregation for the degenerate case (per the north rule's
    "explicit skew-aware salting").

    ``hash_first`` replaces the phase-1 payload with a SINGLE 64-bit
    ``xxhash64(partition_id, *keys)`` per row and REJOINS colliding
    hashes against the pruned scan for an exact per-key recount
    (accidental ~2⁻⁶⁴ collisions regroup into count-1 rows and fall
    out — exact, never probabilistic).  MEASURED (r5, 32.5M-row
    transcript corpus, BENCH/profile_8to32_r5.json): this LOSES on
    transcript-shaped keys — conv_id strings are short and lz4
    compresses them ~3:1 in the shuffle while random 64-bit hashes
    are incompressible, and the candidate rejoin adds a second scan +
    exchange consumers; shuffle bytes came out ~3× HIGHER than the
    full-key plan.  It stays available (off by default) for WIDE
    composite keys (long URLs, text fingerprints) where the
    hash-vs-key byte ratio genuinely inverts.  The structural answer
    for the transcript workload is bucketed layout — a table bucketed
    by conv_id runs this check with NO exchange at all (measured in
    the same BENCH/profile_8to32_r5.json record).
    """

    keys: Sequence[str]
    partition_by: Sequence[str] | None = None
    salt_buckets: int = 0
    hash_first: bool = False
    name: str = "uniqueness"

    def _hashed(self, df: DataFrame) -> DataFrame:
        """(partition_id, *keys, __h): pruned scan + 64-bit group hash
        (computed map-side; NULL-vs-NULL key ambiguities only ever
        CAUSE collisions, which phase 2 resolves exactly)."""
        pid = _partition_id(self.partition_by).alias("partition_id")
        proj = df.select(pid, *[F.col(k) for k in self.keys])
        return proj.withColumn(
            "__h",
            F.xxhash64(F.col("partition_id"), *[F.col(k) for k in self.keys]),
        )

    def _exact_dup_counts(self, df: DataFrame) -> DataFrame:
        """(partition_id, *keys, dup_count>1) via hash-first phases."""
        hashed = self._hashed(df)
        cand = (
            hashed.groupBy("partition_id", "__h")
            .agg(F.count(F.lit(1)).alias("__hc"))
            .filter(F.col("__hc") > 1)
            .select("partition_id", "__h")
        )
        # join on the whole group key: one __h can stand for groups in
        # several partitions, and a join on __h alone would repeat rows
        return (
            hashed.join(cand, ["partition_id", "__h"])
            .groupBy("partition_id", *self.keys)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1)
        )

    def duplicates(self, df: DataFrame) -> DataFrame:
        """(partition_id, *keys, dup_count) for keys appearing >1 time."""
        pid = _partition_id(self.partition_by).alias("partition_id")
        key_cols = [F.col(k) for k in self.keys]
        if self.salt_buckets > 1:
            # phase 1: per-(key, salt) partial counts — bounds any single
            # reducer's input even under duplicate storms
            salt = F.pmod(F.xxhash64(*key_cols, F.spark_partition_id()), F.lit(self.salt_buckets))
            partial = (
                df.select(pid, *key_cols, salt.alias("__salt"))
                .groupBy("partition_id", *self.keys, "__salt")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            counts = (
                partial.groupBy("partition_id", *self.keys)
                .agg(F.sum("__c").alias("dup_count"))
            )
            return counts.filter(F.col("dup_count") > 1)
        if self.hash_first:
            return self._exact_dup_counts(df)
        counts = (
            df.select(pid, *key_cols)
            .groupBy("partition_id", *self.keys)
            .agg(F.count(F.lit(1)).alias("dup_count"))
        )
        return counts.filter(F.col("dup_count") > 1)

    def _verdicts_hash_first(self, df: DataFrame) -> DataFrame:
        # hash-first: the corpus-wide shuffle carries (partition_id,
        # 8-byte hash, partial count); exact per-key recount only over
        # colliding rows.  Partitions without duplicates come from the
        # phase 1 aggregate (same exchange, reused) left-joined with
        # the dup aggregate — never a second full-key shuffle.
        hashed = self._hashed(df)
        ph1 = hashed.groupBy("partition_id", "__h").agg(
            F.count(F.lit(1)).alias("__hc")
        )
        cand = ph1.filter(F.col("__hc") > 1).select("partition_id", "__h")
        exact = (
            hashed.join(cand, ["partition_id", "__h"])
            .groupBy("partition_id", *self.keys)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        dups = exact.groupBy("partition_id").agg(
            F.sum((F.col("c") > 1).cast("long")).alias("dup_keys"),
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias("extra_rows"),
        )
        pids = ph1.groupBy("partition_id").agg(F.count(F.lit(1)).alias("__nk"))
        return (
            pids.join(dups, "partition_id", "left")
            .select(
                "partition_id",
                F.coalesce(F.col("dup_keys"), F.lit(0)).alias("dup_keys"),
                F.coalesce(F.col("extra_rows"), F.lit(0)).alias("extra_rows"),
            )
        )

    def verdicts(self, df: DataFrame) -> DataFrame:
        if self.hash_first:
            agg = self._verdicts_hash_first(df)
        else:
            # ONE scan: per-(partition, key) counts (the scan + first
            # shuffle), then a per-partition re-aggregate of the tiny
            # count rows.  Partitions without duplicates fall out
            # naturally with dup_keys=0 — no second pass over the
            # fact table.
            pid = _partition_id(self.partition_by).alias("partition_id")
            counts = (
                df.select(pid, *[F.col(k) for k in self.keys])
                .groupBy("partition_id", *self.keys)
                .agg(F.count(F.lit(1)).alias("c"))
            )
            agg = counts.groupBy("partition_id").agg(
                F.sum((F.col("c") > 1).cast("long")).alias("dup_keys"),
                F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias("extra_rows"),
            )
        metrics = F.create_map(
            F.lit("dup_keys"), F.col("dup_keys").cast("string"),
            F.lit("extra_rows"), F.col("extra_rows").cast("string"),
            F.lit("keys"), F.lit(",".join(self.keys)),
        )
        return agg.select(*_verdict_select(self.name, F.col("extra_rows"), metrics))

    def violations(self, df: DataFrame) -> DataFrame:
        return self.duplicates(df)


@dataclass
class FunctionalDependency(Check):
    """Functional-dependency profiling: ``determinant -> dependent``
    must be single-valued per determinant group (NULL dependents are
    ignored, matching COUNT(DISTINCT) semantics).  The data-quality
    check schema keywords cannot express — it is a CROSS-ROW invariant
    ("every turn of a conversation reports the same session locale",
    "a part number maps to one spec revision").

    Physical plan: violations = one exact per-determinant aggregation
    (map-side partial count + count-distinct) joined with a bounded
    example list built from the DISTINCT (determinant, dependent)
    pairs — a row_number window caps examples at ``max_examples``
    BEFORE any collect_list, so a determinant with millions of
    distinct dependents cannot blow a task (the reason a naive
    slice(sort(collect_set)) is wrong at scale).  Verdicts reduce the
    distinct-pair table per partition — fail_count is the number of
    violating determinants."""

    determinant: Sequence[str]
    dependent: str = ""
    partition_by: Sequence[str] | None = None
    max_examples: int = 3
    name: str = "functional_dependency"

    def violating_keys(self, df: DataFrame) -> DataFrame:
        """(determinant..., n_rows, n_dep, examples) for determinants
        whose dependent is not single-valued; ``examples`` is the
        first ``max_examples`` distinct dependents in value order,
        comma-joined."""
        det = list(self.determinant)
        dep = F.col(self.dependent)
        stats = df.groupBy(*det).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(dep).alias("n_dep"),
        )
        pairs = (
            df.filter(dep.isNotNull())
            .select(*[F.col(c) for c in det], dep.alias("__dep"))
            .distinct()
        )
        w = Window.partitionBy(*det).orderBy("__dep")
        ex = (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.max_examples)
            .groupBy(*det)
            .agg(
                F.concat_ws(
                    ",",
                    F.array_sort(F.collect_list("__dep")).cast(
                        "array<string>"
                    ),
                ).alias("examples")
            )
        )
        # null-safe equality on the determinant keys: a plain equi-join
        # drops NULL-determinant groups, so the example listing could
        # miss determinants the verdicts count as violating (r3 advice
        # finding).  Both sides are grouped by det ⇒ 1:1 match.
        bad = stats.filter(F.col("n_dep") > 1)
        cond = None
        for c in det:
            piece = bad[c].eqNullSafe(ex[c])
            cond = piece if cond is None else (cond & piece)
        return bad.join(ex, cond).select(
            *[bad[c].alias(c) for c in det], "n_rows", "n_dep", "examples"
        )

    def verdicts(self, df: DataFrame) -> DataFrame:
        pid = _partition_id(self.partition_by).alias("partition_id")
        det = list(self.determinant)
        dep = F.col(self.dependent)
        counts = (
            df.filter(dep.isNotNull())
            .select(pid, *[F.col(c) for c in det], dep.alias("__dep"))
            .distinct()
            .groupBy("partition_id", *det)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        agg = counts.groupBy("partition_id").agg(
            F.sum((F.col("c") > 1).cast("long")).alias("bad_dets"),
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias(
                "extra_values"
            ),
        )
        metrics = F.create_map(
            F.lit("bad_determinants"), F.col("bad_dets").cast("string"),
            F.lit("extra_values"), F.col("extra_values").cast("string"),
            F.lit("fd"), F.lit(",".join(det) + " -> " + self.dependent),
        )
        return agg.select(
            *_verdict_select(self.name, F.col("bad_dets"), metrics)
        )

    def violations(self, df: DataFrame) -> DataFrame:
        return self.violating_keys(df)


@dataclass
class ReferentialIntegrity(Check):
    """fact[fact_key] ⊆ dim[dim_key]: violation rows via BROADCAST
    anti-join, verdicts via BROADCAST left join (``flag``).

    The dim side is always broadcast (role/tool dimension tables are
    tiny); the fact side streams through without a shuffle — at 100 TB
    this is the only viable plan and Catalyst confirms it as
    BroadcastHashJoin(LeftAnti) in ``.explain()``.  Null fact keys are
    ignored (membership of nothing), matching the reference's null-skip
    semantics (validator_base.go:180-183).
    """

    dim: DataFrame
    fact_key: str
    dim_key: str
    partition_by: Sequence[str] | None = None
    name: str = "referential_integrity"

    def orphans(self, df: DataFrame) -> DataFrame:
        """Distinct orphan key values with occurrence counts per partition."""
        pid = _partition_id(self.partition_by).alias("partition_id")
        facts = (
            df.filter(F.col(self.fact_key).isNotNull())
            .select(pid, F.col(self.fact_key))
            .groupBy("partition_id", self.fact_key)
            .agg(F.count(F.lit(1)).alias("orphan_rows"))
        )
        dim_keys = self.dim.select(F.col(self.dim_key).alias(self.fact_key)).distinct()
        return facts.join(F.broadcast(dim_keys), self.fact_key, "left_anti")

    def flag(self, df: DataFrame, p: str) -> DataFrame:
        """``df`` + ``{p}hit``: 1 where the fact key is a dim key, else
        NULL.  A broadcast LEFT join of the DISTINCT dim keys matches each
        fact row at most once, so the checks fused over the flagged frame
        count the same rows as over ``df``."""
        dim_keys = (
            self.dim.select(F.col(self.dim_key).alias(f"{p}key"))
            .distinct()
            .withColumn(f"{p}hit", F.lit(1))
        )
        return df.join(
            F.broadcast(dim_keys), F.col(self.fact_key) == F.col(f"{p}key"), "left"
        )

    def _agg_exprs(self, p: str) -> list[Column]:
        # orphan_keys is exact and memory-bounded: count_distinct
        # aggregates through a shuffle, where collect_set would hold
        # every orphan value of a partition in one buffer
        key = F.col(self.fact_key)
        orphan = key.isNotNull() & F.col(f"{p}hit").isNull()
        return [
            F.count_distinct(F.when(orphan, key)).alias(f"{p}orphan_keys"),
            F.sum(orphan.cast("long")).alias(f"{p}orphan_rows"),
        ]

    def _verdict_parts(self, p: str) -> tuple[Column, Column]:
        return F.col(f"{p}orphan_rows"), F.create_map(
            F.lit("orphan_keys"), F.col(f"{p}orphan_keys").cast("string"),
            F.lit("orphan_rows"), F.col(f"{p}orphan_rows").cast("string"),
            F.lit("fact_key"), F.lit(self.fact_key),
        )

    def verdicts(self, df: DataFrame) -> DataFrame:
        # ONE scan: partitions with zero orphans keep their passing
        # verdict without a second pass over the fact table
        p = f"__{self.name}__"
        agg = self.flag(df, p).groupBy(
            _partition_id(self.partition_by).alias("partition_id")
        ).agg(*self._agg_exprs(p))
        return agg.select(*_verdict_select(self.name, *self._verdict_parts(p)))

    def fused_aggs(self, df: DataFrame, prefix: str | None = None):
        """(agg exprs, verdict-struct builder) for single-pass fusion;
        the aggregation input must be ``flag(df, prefix)``."""
        p = prefix or f"__{self.name}__"

        def build() -> Column:
            return _verdict_struct(self.name, *self._verdict_parts(p))

        return self._agg_exprs(p), build

    def violations(self, df: DataFrame) -> DataFrame:
        return self.orphans(df)


@dataclass
class Drift(Check):
    """Distribution drift of a numeric column vs a baseline DataFrame.

    Sketch: ``percentile_approx`` (Spark's GK/KLL-like quantile sketch,
    mergeable map-side → one tiny shuffle) produces an n-quantile
    summary of both current and baseline; from the two summaries one
    SQL expression per partition computes
      * PSI  (population stability index over equal-population baseline
              bins; >0.2 conventionally = drifted), and
      * KS   (max CDF gap estimated on the merged quantile grid).
    Exact mode (``approx=False``) uses ``percentile`` for oracle tests.
    """

    column: str
    baseline: DataFrame | None = None
    # alternative to a live baseline DataFrame: a stored quantile
    # summary written by save_baseline() — the production drift flow
    # compares each run against the PREVIOUS run's sketch, not a
    # recomputed scan (FIXTURES.md §7 'stored baseline')
    baseline_path: str | None = None
    n_quantiles: int = 20
    psi_threshold: float = 0.2
    ks_threshold: float = 0.2
    approx: bool = True
    accuracy: int = 10000
    partition_by: Sequence[str] | None = None
    name: str = "drift"

    def _quantiles_agg(self) -> Column:
        qs = [i / self.n_quantiles for i in range(self.n_quantiles + 1)]
        col = F.col(self.column).cast("double")
        if self.approx:
            return F.percentile_approx(col, qs, self.accuracy)
        return F.percentile(col, F.array(*[F.lit(x) for x in qs]))

    def _quantiles(self, df: DataFrame, pid: bool) -> DataFrame:
        group = (
            df.groupBy(_partition_id(self.partition_by).alias("partition_id"))
            if pid
            else df.groupBy(F.lit("ALL").alias("partition_id"))
        )
        return group.agg(self._quantiles_agg().alias("quantiles"))

    @staticmethod
    def psi_ks(base_q: list[float], cur_q: list[float]) -> tuple[float, float]:
        """Driver-side arithmetic on two quantile summaries (tiny).

        STEP CDFs, not interpolation: discrete/skewed columns produce
        REPEATED quantile knots (e.g. turn_idx's grid is [0,0,1,1,...])
        and a piecewise-linear CDF through duplicated knots is
        ill-defined — it reported drift for a distribution against
        itself.  bisect_right/len is exact for the summary's point
        masses and treats both sides identically.  verdicts() computes
        the same arithmetic in SQL; this is the reference it is tested
        against."""
        if len(base_q) < 2 or len(cur_q) < 2:
            return 0.0, 0.0

        def cdf(q: list[float], x: float) -> float:
            return bisect.bisect_right(q, x) / len(q)

        # PSI over the deduped baseline grid: expected mass from the
        # baseline's own CDF (uniform only when knots are distinct)
        eps = 1e-6
        grid = sorted(set(base_q))
        psi = 0.0
        prev_b = prev_c = 0.0
        for g in grid:
            b, c = cdf(base_q, g), cdf(cur_q, g)
            expected = max(b - prev_b, eps)
            actual = max(c - prev_c, eps)
            psi += (actual - expected) * math.log(actual / expected)
            prev_b, prev_c = b, c
        # tail mass above the last baseline knot
        expected = max(1.0 - prev_b, eps)
        actual = max(1.0 - prev_c, eps)
        psi += (actual - expected) * math.log(actual / expected)
        # KS on the merged grid
        merged = sorted(set(base_q) | set(cur_q))
        ks = max(abs(cdf(base_q, x) - cdf(cur_q, x)) for x in merged)
        return psi, ks

    def save_baseline(self, df: DataFrame, path: str) -> None:
        """Persist this run's quantile summary as the next run's
        baseline (one tiny row; parquet overwrite is atomic enough
        at this size — use an Iceberg table in production)."""
        self._quantiles(df, pid=False).write.mode("overwrite").parquet(path)

    def _psi_ks_sql(self, base_q: list[float], cur: str) -> tuple[str, str]:
        """(PSI, KS) as SQL over the quantile-array column ``cur``, with
        the baseline summary embedded as literals: psi_ks's step-CDF
        arithmetic, cdf(q, x) = |{e in q : e <= x}| / |q|.  A NULL or
        one-knot ``cur`` reads 0 for both."""
        if len(base_q) < 2:
            return "0.0D", "0.0D"
        lit = _sql_double
        eps = 1e-6
        nb = len(base_q)

        def cdf_cur(x: str) -> str:
            return f"(size(filter({cur}, e -> e <= {x})) / size({cur}))"

        psi, ks = [], []
        prev_b, prev_c = 0.0, "0.0D"
        for g in sorted(set(base_q)):
            b = bisect.bisect_right(base_q, g) / nb
            c = cdf_cur(lit(g))
            expected = lit(max(b - prev_b, eps))
            actual = f"greatest({c} - {prev_c}, {lit(eps)})"
            psi.append(f"({actual} - {expected}) * ln({actual} / {expected})")
            ks.append(f"abs({lit(b)} - {c})")
            prev_b, prev_c = b, c
        # tail mass above the last baseline knot
        expected = lit(max(1.0 - prev_b, eps))
        actual = f"greatest(1.0D - {prev_c}, {lit(eps)})"
        psi.append(f"({actual} - {expected}) * ln({actual} / {expected})")
        # KS on the merged grid: the baseline knots above, the current
        # knots here
        base = "array(" + ", ".join(lit(x) for x in sorted(base_q)) + ")"
        ks.append(
            f"array_max(transform({cur}, x -> abs("
            f"size(filter({base}, e -> e <= x)) / {nb} - {cdf_cur('x')})))"
        )
        valid = f"{cur} IS NOT NULL AND size({cur}) >= 2"
        return (
            f"CASE WHEN {valid} THEN {' + '.join(psi)} ELSE 0.0D END",
            f"CASE WHEN {valid} THEN greatest({', '.join(ks)}) ELSE 0.0D END",
        )

    def _verdict_parts(self, base_q: list[float], cur: str) -> tuple[Column, Column]:
        psi, ks = self._psi_ks_sql(base_q, _sql_name(cur))
        fail = F.expr(
            f"CAST(({psi}) > {_sql_double(self.psi_threshold)}"
            f" OR ({ks}) > {_sql_double(self.ks_threshold)} AS INT)"
        )
        metrics = F.expr(
            f"map('psi', format_string('%.6f', {psi}),"
            f" 'ks', format_string('%.6f', {ks}),"
            f" 'column', {_sql_str(self.column)},"
            f" 'n_quantiles', '{int(self.n_quantiles)}')"
        )
        return fail, metrics

    def verdicts(self, df: DataFrame) -> DataFrame:
        base_q = self._base_quantiles(df.sparkSession)
        fail, metrics = self._verdict_parts(base_q, "quantiles")
        return self._quantiles(df, pid=True).select(
            *_verdict_select(self.name, fail, metrics)
        )

    def _base_quantiles(self, spark) -> list[float]:
        if self.baseline_path is not None:
            base = (
                spark.read.schema("partition_id string, quantiles array<double>")
                .parquet(self.baseline_path)
                .collect()
            )
        elif self.baseline is not None:
            base = self._quantiles(self.baseline, pid=False).collect()
        else:
            raise ValueError("Drift needs a baseline DataFrame or baseline_path")
        return list(base[0]["quantiles"]) if base else []

    def fused_aggs(self, df: DataFrame, prefix: str | None = None):
        """Join the shared single-scan aggregation: the quantile sketch
        is one agg expression and the verdict is verdicts()' SQL over it
        (the baseline is one tiny collected row)."""
        p = prefix or f"__{self.name}__"
        base_q = self._base_quantiles(df.sparkSession)
        agg = self._quantiles_agg()

        def build() -> Column:
            return _verdict_struct(self.name, *self._verdict_parts(base_q, f"{p}quantiles"))

        return [agg.alias(f"{p}quantiles")], build


@dataclass
class SchemaCheck(Check):
    """Wrap a compiled row-level schema plan (jsonschema_spark.compile_schema)
    as a table-level check: per-partition violation counts → verdicts."""

    plan: "object"  # CompiledSchema
    partition_by: Sequence[str] | None = None
    keys: Sequence[str] | None = None  # violation row identity columns
    name: str = "schema"
    # validate a JSON *string* column instead of fixed columns (the
    # reference's actual input domain); json_types as in compile_schema
    # ("variant" runtime dispatch / "static" inferred struct)
    json_col: str | None = None
    json_types: str | None = None

    def _agg_exprs(self, df: DataFrame, p: str = "") -> list[Column]:
        # verdict counting compiles the plan's fail_predicate (Rule.fails,
        # no violation arrays).  The json_col predicate is a single
        # Column in both parse modes (fused-suite compatible); variant
        # mode dispatches inline without the shred — standalone verdict
        # counting should prefer plan.fail_verdicts, but fusion with the
        # other checks' single scan dominates that here.
        pred = self.plan.fail_predicate(
            df, json_col=self.json_col, json_types=self.json_types
        )
        return [
            F.count(F.lit(1)).alias(f"{p}rows"),
            F.sum(pred.cast("long")).alias(f"{p}bad_rows"),
        ]

    def _verdict_parts(self, p: str) -> tuple[Column, Column]:
        return F.col(f"{p}bad_rows"), F.create_map(
            F.lit("rows"), F.col(f"{p}rows").cast("string"),
            F.lit("bad_rows"), F.col(f"{p}bad_rows").cast("string"),
        )

    def verdicts(self, df: DataFrame) -> DataFrame:
        agg = df.groupBy(
            _partition_id(self.partition_by).alias("partition_id")
        ).agg(*self._agg_exprs(df))
        fail, metrics = self._verdict_parts("")
        return agg.select(*_verdict_select(self.name, fail, metrics))

    def fused_aggs(self, df: DataFrame, prefix: str | None = None):
        """(agg exprs, verdict-struct builder) for single-pass fusion."""
        p = prefix or f"__{self.name}__"

        def build() -> Column:
            return _verdict_struct(self.name, *self._verdict_parts(p))

        return self._agg_exprs(df, p), build

    def violations(self, df: DataFrame) -> DataFrame:
        keys = list(self.keys) if self.keys else [
            c for c in ("conv_id", "turn_idx") if c in df.columns
        ]
        return self.plan.validate(
            df, keys=keys, json_col=self.json_col, json_types=self.json_types
        ).violations


@dataclass
class CheckSuite:
    """Run a list of checks over one table; union the verdict rows.

    ``run()`` returns a single verdicts DataFrame; ``run_resumable()``
    (checkpoint.py) skips partitions already recorded in the manifest.
    """

    checks: list[Check]

    def run(self, df: DataFrame, fused: bool = True) -> DataFrame:
        """Union of all verdict rows.

        ``fused`` (default): every aggregation-shaped check (schema
        verdicts, column stats, referential integrity, drift) that
        shares a partition_by contributes its aggregate expressions to
        ONE ``groupBy(partition_id).agg(...)`` — the corpus is scanned
        once for the whole group instead of once per check (the verdict
        builders all read the same aggregated exchange, which Spark
        reuses).  Referential-integrity checks first flag the scan with
        a broadcast left join of their dim keys.  Uniqueness, which
        shuffles on its key, keeps its own jobs."""
        out: DataFrame | None = None

        def add(v: DataFrame):
            nonlocal out
            out = v if out is None else out.unionByName(v, allowMissingColumns=False)

        rest: list[Check] = []
        groups: dict[tuple, list] = {}
        if fused:
            for c in self.checks:
                if hasattr(c, "fused_aggs"):
                    pb = tuple(getattr(c, "partition_by", None) or ())
                    groups.setdefault(pb, []).append(c)
                else:
                    rest.append(c)
        else:
            rest = list(self.checks)

        for pb, cs in groups.items():
            if len(cs) == 1:
                add(cs[0].verdicts(df))
                continue
            aggs: list[Column] = []
            builders = []
            src = df
            for i, c in enumerate(cs):
                # index in the prefix: same-named checks must not
                # collide in the shared aggregate
                p = f"__{i}_{c.name}__"
                # rules bind against df itself: the flag columns are
                # not fields of the validated row
                a, b = c.fused_aggs(df, prefix=p)
                if isinstance(c, ReferentialIntegrity):
                    src = c.flag(src, p)
                aggs.extend(a)
                builders.append(b)
            g = src.groupBy(
                _partition_id(list(pb) or None).alias("partition_id")
            ).agg(*aggs)
            # ONE select emitting every check's verdict struct: a union
            # of per-check selects would let column pruning split the
            # aggregate into per-branch scans
            add(
                g.select(
                    F.explode(F.array(*[b() for b in builders])).alias("__v")
                ).select("__v.*")
            )
        for c in rest:
            add(c.verdicts(df))
        if out is None:
            raise ValueError("empty CheckSuite")
        return out

    def violations(self, df: DataFrame) -> dict[str, DataFrame]:
        res = {}
        for c in self.checks:
            v = c.violations(df)
            if v is not None:
                res[c.name] = v
        return res
