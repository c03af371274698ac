"""Per-partition checkpoint/resume for table-level check runs.

North-rule requirement: validation runs over a 10^12-turn corpus must
be resumable — a failed/preempted run re-submits and skips every
(partition, check) pair already recorded, with lineage + metrics rows
carried in the manifest (SURVEY.md §4 item 4; FIXTURES.md §3
``checkpoints`` schema).

Design (no Spark primitive does this — it is driver logic):

  * The manifest is an append-only parquet directory (at production
    scale: an Iceberg table appended transactionally).  Each completed
    (partition_id, check) writes one row::

        checkpoints(partition_id string, check string,
                    completed_at timestamp, lineage string,
                    metrics map<string,string>)

  * ``lineage`` fingerprints the inputs: source identifier + check
    configuration hash, so a manifest row only matches a re-run with
    identical inputs and rules.

  * Resume = anti-join the table's partition list against the
    manifest (both driver-small: one row per partition × check), then
    run the suite ONLY over the missing partitions — the data-side
    filter is a partition-pruning predicate, so Spark never reads
    completed partitions' files on an Iceberg/hive-partitioned table.
    Checks are grouped by the partitions they still miss, and each
    group is one fused ``CheckSuite.run`` with one ``collect()``: a
    fresh run and the usual resume (every check missing the same new
    partitions) are both a single fused pass.

Writes are atomic at file granularity (parquet append of one run's
rows); a crash mid-run loses at most the in-flight partitions, never
corrupts prior rows.  A run writes its outputs (``ResumableRun.run``'s
``sink``) before its one manifest append, so a crash anywhere before
that append re-runs the same partitions; sinks that overwrite by
partition (``sources.tables.write_output`` with ``partition_by`` or
``replace_partitions``, as the CLI writes them) then hold each
partition's rows exactly once.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.checks import VERDICT_SCHEMA, Check, CheckSuite, _partition_id, _sql_str
from .sources.tables import read_store

CHECKPOINT_SCHEMA = (
    "partition_id string, check string, completed_at timestamp, "
    "lineage string, metrics map<string,string>"
)


def _scan_files(df: DataFrame) -> list[str] | None:
    """The data files of ``df`` when it is a bare file-scan relation
    (no filter or projection above the scan), else None.  A relation
    that lists no files (an Iceberg ``RelationV2``, a non-file v1
    source, an empty directory) is None too: its content must be
    hashed, since an empty listing never changes."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString().strip()
        if len(plan.splitlines()) == 1 and plan.startswith("Relation"):
            return list(df.inputFiles()) or None
    except Exception:
        pass
    return None


def _df_fingerprint(df: DataFrame) -> str:
    """Fingerprint of a DataFrame-valued check input (RI dim, drift
    baseline), so the lineage changes when it does.  A bare file scan
    is fingerprinted from its file listing (path, length, modification
    time) without a Spark job: this suits dims whose files are only
    added to, but rewriting a dim, even with identical content, changes
    its fingerprint and re-runs its checks over every partition.  Any
    other DataFrame is fingerprinted by row count + order-insensitive
    xxhash64 sum, one agg job over a table that is small by contract
    (dim/baseline << fact)."""
    files = _scan_files(df)
    if files is not None:
        spark = df.sparkSession
        conf = spark._jsc.hadoopConfiguration()
        listing = []
        for f in sorted(files):
            path = spark._jvm.org.apache.hadoop.fs.Path(f)
            st = path.getFileSystem(conf).getFileStatus(path)
            listing.append(f"{f}\t{st.getLen()}\t{st.getModificationTime()}")
        return "files:" + hashlib.sha256("\n".join(listing).encode()).hexdigest()
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: ANSI-safe (a long sum of xxhash64 overflows)
        F.sum(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def _lineage(source_id: str, check: Check) -> str:
    """Stable fingerprint of (input, check config): same lineage ⇒ the
    cached verdict is valid for this re-run.  DataFrame-valued config
    (e.g. ReferentialIntegrity.dim, Drift.baseline) contributes
    ``_df_fingerprint`` (file listing for a bare file scan, else a
    content hash) so a changed dim invalidates old manifest rows."""
    cfg = {}
    for k, v in sorted(vars(check).items()):
        if isinstance(v, (str, int, float, bool, list, tuple, dict, type(None))):
            cfg[k] = v
        elif isinstance(v, DataFrame):
            cfg[k] = _df_fingerprint(v)
        elif isinstance(getattr(v, "doc", None), (dict, list)):
            # compiled schema plan: the DOCUMENT is the config — a
            # changed schema must invalidate cached schema verdicts
            cfg[k] = v.doc
    blob = json.dumps({"source": source_id, "check": check.name, "cfg": cfg},
                      sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class CheckpointManifest:
    """The manifest directory + the resume/append operations."""

    path: str

    def read(self, spark: SparkSession) -> DataFrame:
        return read_store(spark, self.path, CHECKPOINT_SCHEMA)

    def completed(self, spark: SparkSession, lineages: dict[str, str]) -> set[tuple[str, str]]:
        """(partition_id, check) pairs already recorded with a matching
        lineage.  Driver-small: one row per partition × check."""
        rows = self.read(spark).select("partition_id", "check", "lineage").collect()
        return {
            (r["partition_id"], r["check"])
            for r in rows
            if lineages.get(r["check"]) == r["lineage"]
        }

    def append(self, spark: SparkSession, verdicts: list, lineages: dict[str, str]) -> None:
        now = time.time()
        rows = [
            (
                v["partition_id"],
                v["check"],
                None,  # completed_at set below via expression (no driver clock skew)
                lineages[v["check"]],
                dict(v["metrics"] or {}),
            )
            for v in verdicts
        ]
        df = spark.createDataFrame(rows, CHECKPOINT_SCHEMA).withColumn(
            "completed_at", F.timestamp_seconds(F.lit(now))
        )
        df.coalesce(1).write.mode("append").parquet(self.path)


def _partition_tuples_from_files(df: DataFrame, cols: Sequence[str]):
    """Enumerate the table's partitions WITHOUT scanning it: parse the
    hive-style ``col=val`` directory segments out of the scan's file
    listing (driver-side metadata — the local analog of reading an
    Iceberg ``.partitions`` metadata table or ``SHOW PARTITIONS``).

    Returns a sorted list of raw STRING tuples, or None when the
    metadata route does not apply and the caller must fall back to a
    distinct scan:

      * the plan is not a bare relation (a filter/transform above the
        scan could exclude whole partitions, which only a scan sees)
      * any file path lacks a ``col=`` segment for some partition
        column (table not physically partitioned by ``cols``)
    """
    files = _scan_files(df)
    if not files:
        return None
    from urllib.parse import unquote

    # only segments BELOW the table root are partition directories: an
    # ancestor directory that merely LOOKS like one (/data/env=prod/tbl
    # with a data column `env`) must not shadow the real layout.  The
    # root is the common directory prefix of all files; when only one
    # partition exists, its own col=val segments end up in that prefix,
    # so trailing segments matching the requested columns are peeled
    # back off into shared values.
    # inputFiles are URIs: URI-decode here, hive-unescape values below
    dirs = [unquote(f).split("/")[:-1] for f in files]
    common = dirs[0]
    for d in dirs[1:]:
        i = 0
        while i < len(common) and i < len(d) and common[i] == d[i]:
            i += 1
        common = common[:i]
    shared: dict[str, str] = {}
    colset = set(cols)
    while common and "=" in common[-1]:
        key, _, v = common[-1].partition("=")
        if key not in colset or key in shared:
            break
        shared[key] = v
        common = common[:-1]
    depth = len(common)

    tuples = set()
    for d in dirs:
        vals = dict(shared)
        for seg in d[depth:]:
            if "=" not in seg:
                return None  # non-hive layout below the root
            key, _, v = seg.partition("=")
            if key not in colset:
                return None  # partitioned by OTHER columns too
            vals[key] = v
        if set(vals) != colset:
            return None  # table not physically partitioned by `cols`
        t = tuple(unquote(vals[c]) for c in cols)
        tuples.add(tuple(None if v == "__HIVE_DEFAULT_PARTITION__" else v for v in t))
    return sorted(
        tuples, key=lambda t: tuple("" if x is None else str(x) for x in t)
    )


def _enumerate_partitions(df: DataFrame, cols: Sequence[str]):
    """(collected rows of __pid + partition cols, route): the metadata
    route when the input is a bare hive-partitioned scan (zero
    fact-table bytes), else one distinct scan.  pids always come from
    the SAME Spark _partition_id expression the verdicts use — a
    driver-side '/'.join would diverge on booleans/NULLs."""
    cols = list(cols)
    str_tuples = _partition_tuples_from_files(df, cols)
    if str_tuples is not None:
        # an inline VALUES table is a local relation: Catalyst folds the
        # casts and pids into it and the collect runs no Spark job
        values = ", ".join(
            "(" + ", ".join("CAST(NULL AS STRING)" if v is None else _sql_str(v) for v in t) + ")"
            for t in str_tuples
        )
        names = [f"c{i}" for i in range(len(cols))]
        tiny = df.sparkSession.sql(
            f"SELECT * FROM VALUES {values} AS t({', '.join(names)})"
        )
        typed = tiny.select(
            *[F.col(n).cast(df.schema[c].dataType).alias(c) for n, c in zip(names, cols)]
        )
        raw = typed.select(_partition_id(cols).alias("__pid"), *cols).collect()
        return raw, "files"
    return df.select(_partition_id(cols).alias("__pid"), *cols).distinct().collect(), "scan"


def prune_to_partitions(
    df: DataFrame, cols: Sequence[str], todo_tuples: Sequence[tuple]
) -> DataFrame:
    """OR-of-equalities on the partition columns — the form Catalyst
    turns into PartitionFilters, so completed partitions' files are
    never read.  NULL partition values get an explicit isNull disjunct:
    isin/== are never true for NULL and would silently exclude those
    rows from the re-run."""
    from functools import reduce

    cols = list(cols)
    if len(cols) == 1:
        vals = [t[0] for t in todo_tuples if t[0] is not None]
        pred = F.col(cols[0]).isin(vals) if vals else F.lit(False)
        if any(t[0] is None for t in todo_tuples):
            pred = pred | F.col(cols[0]).isNull()
        return df.filter(pred)
    preds = [
        reduce(
            lambda a, b: a & b,
            [
                F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                for c, v in zip(cols, t)
            ],
        )
        for t in todo_tuples
    ]
    return df.filter(reduce(lambda a, b: a | b, preds))


@dataclass
class ResumableRun:
    """Run a CheckSuite over a partitioned table with skip/resume.

    After ``run``, ``last_ran`` maps each check name to the partition
    tuples it actually executed this invocation (missing key = the
    check was fully checkpointed and skipped), ``pid_of`` maps each
    partition tuple of the input to its ``partition_id`` and ``rows``
    holds the collected verdict rows of this run — callers use them to
    scope secondary outputs (e.g. the CLI's violation sink) to the work
    that was really (re)done, and to read the verdicts without a job."""

    suite: CheckSuite
    manifest: CheckpointManifest
    partition_by: Sequence[str] | None = None
    source_id: str = ""

    def run(self, df: DataFrame, sink=None) -> DataFrame:
        """Execute only the (partition, check) pairs missing from the
        manifest; append new checkpoint rows; return the verdicts of
        THIS run (empty if everything was already done).

        Checks missing the same partitions run as one fused
        ``CheckSuite.run`` over the input pruned to those partitions,
        with one ``collect()`` per group.

        ``sink``, when given and anything ran, is called with those
        verdicts BEFORE the one append of this run's checkpoint rows,
        with ``last_ran`` and ``pid_of`` already set, so it can write
        every output of the partitions that ran: a crash between the two
        re-runs those partitions instead of skipping them with their
        outputs never written."""
        spark = df.sparkSession
        lineages = {c.name: _lineage(self.source_id, c) for c in self.suite.checks}
        done = self.manifest.completed(spark, lineages)
        self.last_ran: dict[str, list[tuple]] = {}

        # all partitions present in the input (driver-small), as RAW
        # column values: the pruning predicate must be on the partition
        # columns themselves (a computed pid string defeats pruning)
        if self.partition_by:
            raw, self.partition_source = _enumerate_partitions(
                df, self.partition_by
            )
            tuples = [tuple(r[c] for c in self.partition_by) for r in raw]
            self.pid_of = {t: r["__pid"] for t, r in zip(tuples, raw)}
        else:
            self.partition_source = "none"
            tuples, self.pid_of = [()], {(): "ALL"}

        groups: dict[tuple, list[Check]] = {}
        for c in self.suite.checks:
            todo = tuple(t for t in tuples if (self.pid_of[t], c.name) not in done)
            if todo:
                groups.setdefault(todo, []).append(c)
                self.last_ran[c.name] = list(todo)
        self.rows: list = []
        for todo, checks in groups.items():
            if self.partition_by and len(todo) < len(tuples):
                sub = prune_to_partitions(df, self.partition_by, todo)
            else:
                sub = df
            self.rows.extend(CheckSuite(checks).run(sub).collect())

        out = spark.createDataFrame(self.rows, VERDICT_SCHEMA)
        if self.rows:
            if sink is not None:
                sink(out)
            self.manifest.append(spark, self.rows, lineages)
        return out
