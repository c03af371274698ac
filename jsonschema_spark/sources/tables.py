"""Table IO: scans and sinks for validation runs.

The reference has NO storage layer (input is any unmarshalled JSON,
schema.go:121-138; SURVEY.md §2.9 scans/sinks).  The engine's contract
(north rule) is an Iceberg table of transcripts; this module gives one
entry point that prefers an Iceberg catalog table and falls back to
parquet paths (this container ships no Iceberg runtime jars — the
fallback keeps everything testable while the Iceberg path stays the
production default).

Scan-side scale notes:
  * Partition pruning and predicate pushdown come free from Catalyst —
    pass `where` as a STRING predicate so it reaches the source as a
    filter (check `.explain()` for PushedFilters / partition filters).
  * Column pruning: select only the columns the compiled plan
    references (`CompiledSchema.referenced_columns` union check keys).

Sink-side:
  * violation/verdict sinks are written partitioned, and each write
    replaces exactly the partitions it holds rows for (parquet dynamic
    partition overwrite, Iceberg ``overwritePartitions``), or the ones
    it names (``replace_partitions``): re-running a partition replaces
    its rows instead of adding a second copy, which is what makes a
    resumed CLI run exactly-once.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ICEBERG_HELP = (
    "the Iceberg Spark runtime is not on this session's classpath. "
    "Production setup: add the published "
    "org.apache.iceberg:iceberg-spark-runtime jar matching your Spark "
    "version (spark.jars.packages) and configure a catalog, e.g. "
    "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog. "
    "This container ships no Iceberg jars, so iceberg: sources are "
    "environment-gated here; parquet paths cover the same operators."
)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg DataSource is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def _require_iceberg(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError("iceberg: source requested but " + _ICEBERG_HELP)


def read_table(
    spark: SparkSession,
    source: str,
    where: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read an input table.

    ``source`` forms:
      * ``iceberg:catalog.db.table`` — Iceberg catalog table (partition
        pruning + snapshot isolation; production path)
      * ``table:name``              — any session-catalog table
      * otherwise                   — a parquet path/glob
    """
    if source.startswith("iceberg:"):
        _require_iceberg(spark)
        df = spark.read.format("iceberg").load(source[len("iceberg:"):])
    elif source.startswith("table:"):
        df = spark.read.table(source[len("table:"):])
    else:
        df = spark.read.parquet(source)
    if where:
        df = df.filter(where)  # string predicate -> pushed to the scan
    if columns:
        df = df.select(*columns)
    return df


_SNAPLOG = "_snapshots.jsonl"


def append_snapshot(df: DataFrame, path: str) -> int:
    """Append ``df`` to a snapshot-logged parquet table and return the
    new snapshot id.

    The local stand-in for an Iceberg append when no Iceberg runtime
    is on the classpath: data lands under ``path/data/snap-<id>/`` and
    a JSON line {id, dir} is appended to ``path/_snapshots.jsonl`` —
    the same lineage shape an Iceberg snapshot log provides, enough
    for ``read_incremental``'s exclusive-start/inclusive-end contract
    to EXECUTE instead of being environment-gated.  Ids are
    monotonically increasing ints (append order)."""
    import json as _json
    import os as _os

    _os.makedirs(path, exist_ok=True)
    log = _os.path.join(path, _SNAPLOG)
    last = 0
    if _os.path.exists(log):
        with open(log) as f:
            for line in f:
                if line.strip():
                    last = max(last, _json.loads(line)["id"])
    snap_id = last + 1
    sub = f"data/snap-{snap_id}"
    df.write.mode("errorifexists").parquet(_os.path.join(path, sub))
    with open(log, "a") as f:
        f.write(_json.dumps({"id": snap_id, "dir": sub}) + "\n")
    return snap_id


def read_incremental(
    spark: SparkSession,
    source: str,
    start_snapshot_id: int,
    end_snapshot_id: int | None = None,
) -> DataFrame:
    """Rows appended AFTER ``start_snapshot_id`` (exclusive) up to
    ``end_snapshot_id`` (inclusive; default: current) — Iceberg's
    documented incremental-scan options (``start-snapshot-id`` /
    ``end-snapshot-id``).  This is the feed for the incremental
    stats/drift stores (operators/incremental.py): each run ingests
    only the new snapshots' data files, so updating a corpus-wide
    StatsStore after an append touches ZERO historical bytes — the
    manifest names exactly the new files.

    Sources: ``iceberg:catalog.db.table`` (production), or a local
    snapshot-logged parquet table written via ``append_snapshot``
    (same bound semantics, executed by listing the log's snapshot
    dirs).  A plain parquet path has no snapshot lineage and fails
    loudly, pointing at the checkpoint/manifest-based partition
    increments (jsonschema_spark.checkpoint)."""
    if source.startswith("iceberg:"):
        _require_iceberg(spark)
        r = spark.read.format("iceberg").option(
            "start-snapshot-id", str(start_snapshot_id)
        )
        if end_snapshot_id is not None:
            r = r.option("end-snapshot-id", str(end_snapshot_id))
        return r.load(source[len("iceberg:"):])
    import json as _json
    import os as _os

    log = _os.path.join(source, _SNAPLOG)
    if not _os.path.exists(log):
        raise ValueError(
            "read_incremental needs snapshot lineage: an iceberg: table "
            "or a snapshot-logged parquet dir (append_snapshot); for "
            "plain parquet layouts use jsonschema_spark.checkpoint's "
            "manifest-based partition increments instead"
        )
    dirs = []
    with open(log) as f:
        for line in f:
            if not line.strip():
                continue
            rec = _json.loads(line)
            if rec["id"] > start_snapshot_id and (
                end_snapshot_id is None or rec["id"] <= end_snapshot_id
            ):
                dirs.append(_os.path.join(source, rec["dir"]))
    if not dirs:
        # empty increment with the table's schema (from any snapshot)
        with open(log) as f:
            first = _json.loads(f.readline())
        base = spark.read.parquet(_os.path.join(source, first["dir"]))
        return base.limit(0)
    return spark.read.parquet(*dirs)


def write_output(
    df: DataFrame,
    sink: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Write verdict/violation rows to ``sink`` (forms mirror
    ``read_table``).

    With ``partition_by`` the write is a per-partition overwrite: the
    partitions ``df`` holds rows for are replaced, every other one is
    kept (parquet: dynamic ``partitionOverwriteMode``; Iceberg:
    ``overwritePartitions`` into the existing table, partitioned by
    ``partition_by``), so writing a partition twice leaves one copy.
    ``mode`` applies only without ``partition_by``."""
    if sink.startswith("iceberg:"):
        _require_iceberg(df.sparkSession)
        w = df.writeTo(sink[len("iceberg:"):])
        if partition_by:
            w.overwritePartitions()
        else:
            w.append()
        return
    if partition_by:
        w = (df.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(*partition_by))
    else:
        w = df.write.mode(mode)
    w.parquet(sink)


def replace_partitions(df: DataFrame, sink: str, column: str, values: list[str]) -> None:
    """Replace the ``column`` partitions ``values`` of a sink partitioned
    by ``column`` alone with ``df``, whose rows all fall in them.  Unlike
    ``write_output``'s dynamic overwrite, a partition ``df`` holds no
    rows for is emptied too (parquet: its directory, named the way
    Spark's partition writer names it, is deleted before the write;
    Iceberg: one overwrite by filter)."""
    if sink.startswith("iceberg:"):
        _require_iceberg(df.sparkSession)
        df.writeTo(sink[len("iceberg:"):]).overwrite(F.col(column).isin(values))
        return
    jvm = df.sparkSession._jvm
    root = jvm.org.apache.hadoop.fs.Path(sink)
    fs = root.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
    path_of = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
    for v in values:
        fs.delete(jvm.org.apache.hadoop.fs.Path(root, path_of(column, v)), True)
    write_output(df, sink, partition_by=[column])


def require_partitioned_sink(spark: SparkSession, sink: str,
                             partition_by: list[str]) -> None:
    """Refuse a sink that ``write_output(..., partition_by=...)`` cannot
    overwrite by partition: a parquet directory with data files at its
    root (the flat layout of an append sink; after a partitioned write
    Spark reads only the partition directories, so those rows would drop
    out of every read without an error), or an existing Iceberg table
    partitioned by other columns.  A missing sink passes."""
    if sink.startswith("iceberg:"):
        table = sink[len("iceberg:"):]
        if not spark.catalog.tableExists(table):
            return
        have = [c.name for c in spark.catalog.listColumns(table) if c.isPartition]
        if set(have) != set(partition_by):
            raise ValueError(f"sink {sink} is partitioned by {have}, not "
                             f"{list(partition_by)}; write to a new table")
        return
    # Hadoop FS, not os.path: file:/hdfs:/s3a: sinks alike
    p = spark._jvm.org.apache.hadoop.fs.Path(sink)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    flat = [st.getPath().getName() for st in (fs.listStatus(p) if fs.exists(p) else [])
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))]
    if flat:
        raise ValueError(f"sink {sink} holds data files at its root ({len(flat)}, e.g. "
                         f"{flat[0]}), so it is not partitioned by {list(partition_by)}; "
                         "move it aside or write to a new path")


def read_store(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """An append-only parquet state store (checkpoint manifest, stats or
    histogram partials) or a parquet sink, read with its known
    ``schema`` (no schema-inference job); one nothing was written to
    yet, or whose partitions all hold no rows, reads as empty: the
    directory is missing, or holds no data file (empty, or only the
    ``_temporary/`` of a crash during the first append).
    Any other failure (a corrupt part file, a permission error) raises:
    reading it as empty would redo, and append again, everything the
    store already records."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join
    key — the co-located-join layout for repeated big joins at corpus
    scale: two tables bucketed on the same key with the same bucket
    count join with NO shuffle on either side (Iceberg's analog is a
    bucket partition transform).  Fact tables that are joined every
    run (e.g. turns ⋈ conv dimensions, violation rows ⋈ fact) pay the
    shuffle once at write time instead of per query."""
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
