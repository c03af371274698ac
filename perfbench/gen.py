"""Seeded input generators with a per-row label oracle.

Every input the benchmark feeds the program comes from here, so a later
change to ``jsonschema_spark.sources.fixtures`` cannot move the
benchmark's inputs.  The shapes copy the fixture corpus (transcript
turns of varied conversation lengths, the gateway request rule),
but each generated row plants AT MOST ONE violation and carries a
``label`` column naming it.  ``label_counts`` totals the labels and
``expect_*`` turn those totals into the exact figure each program
output must show; the label column is dropped before the program sees
the table.

All randomness is ``xxhash64(seed, tag, row id)`` arithmetic inside
Spark Column expressions: the same seed gives the same rows on any
partitioning, a different seed gives different rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ["system", "user", "assistant", "tool"]
N_TOOLS = 32
EPOCH_S = 1_735_689_600  # 2025-01-01T00:00:00Z
EPOCH_DATE = "2025-01-01"
GATEWAY_NOW = 1_700_000_000

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()
_SOUP = " ".join(_WORDS[(i * 7) % len(_WORDS)] for i in range(240))

# label -> share of rows (the rest are "clean"); one plant per row
TURN_PLANTS = {
    "oov_role": 0.010,  # role outside the vocabulary: enum + RI(role)
    "oov_tool": 0.005,  # tool turn with an unknown tool: pattern + RI(tool)
    "no_tool": 0.003,  # tool turn without a tool: if/then required
    "neg_turn": 0.003,  # negative turn_idx: minimum
    "empty_text": 0.003,  # minLength
    "long_text": 0.001,  # maxLength
}
DUP_RATE = 0.005  # clean rows re-emitted once with the same key

# JSON documents add runtime-type hazards on top of the turn plants
JSON_PLANTS = {
    **TURN_PLANTS,
    "wrong_type": 0.005,  # turn_idx serialised as a string
    "present_null": 0.005,  # "text": null -- valid: null values skip validation
    "malformed": 0.010,  # truncated document
}
UNION_RATE = 0.30  # clean docs with union-typed ts (ISO string) + tool: null

GATEWAY_PLANTS = {
    "bad_name": 0.010,  # startWith "b"
    "bad_age": 0.010,  # maximum 100
    "bad_school": 0.010,  # error keyword in else-branch
    "bad_hobby": 0.010,  # items enum
    "stale_ts": 0.010,  # time window error
    "bad_sig": 0.010,  # md5 signature mismatch
}


def _h(seed: int, tag: str, *cols) -> Column:
    return F.xxhash64(F.lit(seed), F.lit(tag), *cols)


def _u(seed: int, tag: str, *cols) -> Column:
    """Uniform double in [0, 1)."""
    return F.pmod(_h(seed, tag, *cols), F.lit(1 << 30)) / float(1 << 30)


def _pick(u: Column, plants: dict[str, float], default: str = "clean") -> Column:
    """Label from one uniform draw by cumulative plant shares."""
    expr = None
    lo = 0.0
    for name, share in plants.items():
        hi = lo + share
        cond = (u >= lo) & (u < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return expr.otherwise(F.lit(default))


def turns(
    spark: SparkSession,
    n_convs: int,
    seed: int,
    conv_offset: int = 0,
    plants: dict[str, float] = TURN_PLANTS,
    partitions: int | None = None,
) -> DataFrame:
    """Labelled transcript turns: conv_id, turn_idx, role, text, tool, ts,
    label.  Conversation lengths are 2..23 turns."""
    conv = spark.range(conv_offset, conv_offset + n_convs, numPartitions=partitions)
    n_turns = F.pmod(_h(seed, "len", F.col("id")), F.lit(22)) + 2
    t = conv.select(
        F.col("id").alias("cid"),
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("raw_idx"),
    )
    rid = [F.col("cid"), F.col("raw_idx")]
    label = _pick(_u(seed, "plant", *rid), plants)
    lab = F.col("label")

    role_clean = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        (F.pmod(_h(seed, "role", *rid), F.lit(len(ROLES))) + 1).cast("int"),
    )
    role = (
        F.when(lab == "oov_role", F.lit("narrator"))
        .when(lab.isin("oov_tool", "no_tool"), F.lit("tool"))
        .otherwise(role_clean)
    )
    tool_ok = F.format_string(
        "tool_%02d", F.pmod(_h(seed, "tool", *rid), F.lit(N_TOOLS)).cast("int")
    )
    tool = (
        F.when(lab == "oov_tool", F.lit("tool_zz"))
        .when(lab == "no_tool", F.lit(None).cast("string"))
        .when(F.col("role") == "tool", tool_ok)
        .otherwise(F.lit(None).cast("string"))
    )
    # body: a hashed window of 5..260 characters over a fixed word soup
    body = F.substr(
        F.lit(_SOUP),
        (F.pmod(_h(seed, "ws", *rid), F.lit(len(_SOUP) - 260)) + 1).cast("int"),
        (F.pmod(_h(seed, "wl", *rid), F.lit(256)) + 5).cast("int"),
    )
    text = (
        F.when(lab == "empty_text", F.lit(""))
        .when(lab == "long_text", F.repeat(F.lit("x"), 4321))
        .otherwise(body)
    )
    turn_idx = F.when(lab == "neg_turn", -(F.col("raw_idx") + 1)).otherwise(F.col("raw_idx"))
    base = t.select(*rid, label.alias("label"))
    base = base.select("*", role.alias("role"))
    df = base.select(
        F.format_string("c%08d", F.col("cid")).alias("conv_id"),
        turn_idx.cast("int").alias("turn_idx"),
        F.col("role"),
        text.alias("text"),
        tool.alias("tool"),
        (F.lit(EPOCH_S) + F.col("cid") * 60 + F.col("raw_idx") * 7).alias("ts_s"),
        F.col("label"),
        F.col("cid"),
        F.col("raw_idx"),
    )
    dups = df.filter(
        (F.col("label") == "clean") & (_u(seed, "dup", F.col("cid"), F.col("raw_idx")) < DUP_RATE)
    ).withColumn("label", F.lit("dup"))
    return (
        df.unionByName(dups)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .drop("cid", "raw_idx", "ts_s")
    )


def json_docs(
    spark: SparkSession, n_convs: int, seed: int, partitions: int | None = None
) -> DataFrame:
    """Labelled JSON documents (doc_id, doc, label) built from the same
    turns, with runtime-type hazards: union-typed fields on a share of
    clean docs, wrong-typed and present-null fields, malformed text."""
    t = turns(spark, n_convs, seed, plants=JSON_PLANTS, partitions=partitions)
    lab = F.col("label")
    union = (lab == "clean") & (_u(seed, "union", F.col("conv_id"), F.col("turn_idx")) < UNION_RATE)
    t = t.filter(lab != "dup").select("*", union.alias("union"))
    u = F.col("union")
    doc = F.struct(
        F.col("conv_id"),
        F.when(lab == "wrong_type", F.col("turn_idx").cast("string")).alias("turn_idx_s"),
        F.when(lab != "wrong_type", F.col("turn_idx")).alias("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.when(u, F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")).alias("ts_s"),
        F.when(~u, F.unix_timestamp(F.col("ts"))).alias("ts"),
    )
    # to_json drops null fields: the string-typed twins take the plain
    # names, union docs get an explicit "tool": null and present_null
    # docs an explicit "text": null
    js = F.regexp_replace(F.to_json(doc), '"(turn_idx|ts)_s":', '"$1":')
    js = F.when(u & F.col("tool").isNull(), F.regexp_replace(js, "}$", ',"tool":null}')).otherwise(js)
    js = F.when(lab == "present_null", F.regexp_replace(js, '"text":"[^"]*"', '"text":null')).otherwise(js)
    docs = t.select(
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string")).alias("doc_id"),
        js.alias("doc"),
        lab,
    )
    cut = F.expr("substr(doc, 1, length(doc) - 2)")
    return docs.select(
        "doc_id", F.when(lab == "malformed", cut).otherwise(F.col("doc")).alias("doc"), "label"
    )


def gateway_requests(
    spark: SparkSession, n_rows: int, seed: int, partitions: int | None = None
) -> DataFrame:
    """Labelled requests for the gateway rule (name, age, school, hobby,
    timestamp, sig, label); signatures use the rule's own md5(concat)."""
    df = spark.range(n_rows, numPartitions=partitions)
    rid = F.col("id")
    df = df.select(rid, _pick(_u(seed, "plant", rid), GATEWAY_PLANTS).alias("label"))
    lab = F.col("label")
    name = F.when(lab == "bad_name", F.format_string("x%04d", F.pmod(rid, 10000))).otherwise(
        F.format_string("bob%04d", F.pmod(rid, 10000))
    )
    age = F.when(lab == "bad_age", F.lit(130.0)).otherwise(
        (F.pmod(_h(seed, "age", rid), F.lit(80)) + 18).cast("double")
    )
    school = F.when(lab == "bad_school", F.lit("wh")).otherwise(F.lit("xx"))
    hobby = F.when(lab == "bad_hobby", F.array(F.lit("knitting"))).otherwise(
        F.array(F.lit("ball"), F.lit("game"))
    )
    ts = F.when(lab == "stale_ts", F.lit(GATEWAY_NOW - 4000)).otherwise(
        F.lit(GATEWAY_NOW) + F.pmod(_h(seed, "jit", rid), F.lit(200)) - 100
    )
    sig_true = F.md5(F.concat(name, ts.cast("string"), F.lit("secret1")).cast("binary"))
    sig = F.when(lab == "bad_sig", F.lit("bad")).otherwise(sig_true)
    return df.select(
        name.alias("name"),
        age.alias("age"),
        school.alias("school"),
        hobby.alias("hobby"),
        ts.cast("long").alias("timestamp"),
        sig.alias("sig"),
        lab,
    )


def label_counts(df: DataFrame) -> dict[str, int]:
    """{label: rows} over a labelled table (one small aggregation)."""
    return {r["label"]: int(r["n"]) for r in df.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}


def _n(counts: dict[str, int], *labels: str) -> int:
    return sum(counts.get(lab, 0) for lab in labels)


def expect_suite(counts: dict[str, int], drifted: bool) -> dict[str, int]:
    """Expected CheckSuite figures over a turn table with these labels."""
    return {
        "rows": sum(counts.values()),
        "schema.bad_rows": _n(counts, *TURN_PLANTS),
        "uniqueness.extra_rows": _n(counts, "dup"),
        "ri_role.orphan_rows": _n(counts, "oov_role"),
        "ri_tool.orphan_rows": _n(counts, "oov_tool"),
        "drift.drifted": int(drifted),
    }


def expect_json(counts: dict[str, int]) -> dict[str, int]:
    """Expected failing documents and violation rows: every planted
    document fails with exactly one violation, except the present-null
    hazard, which validates like the union-typed clean docs."""
    bad = _n(counts, *(lab for lab in JSON_PLANTS if lab != "present_null"))
    return {"fail_docs": bad, "violation_rows": bad}


def expect_gateway(counts: dict[str, int]) -> dict[str, int]:
    return {"fail_rows": _n(counts, *GATEWAY_PLANTS)}
