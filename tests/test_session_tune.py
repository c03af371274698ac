"""session.tune: the JIT-aligned codegen fallback must hold on any
session the engine runs under (see BENCH/BASELINE.md pathology #4 —
whole-stage methods in HotSpot's 8,000..65,535-bytecode dead zone run
interpreted forever; measured 5.6s vs 1.2s on the 64-dim unrolled dot
pair join)."""

from pathlib import Path

from jsonschema_spark.core import session


def test_tune_sets_huge_method_limit(spark):
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "65535")
    session._TUNED.discard(id(spark))
    session.tune(spark)
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def test_tune_idempotent_and_cheap(spark):
    session.tune(spark)
    # second call must not raise and must keep the conf pinned
    session.tune(spark)
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def test_entry_table_loader_tunes(spark, tmp_path):
    """_t() — the loader every driver query goes through — applies the
    runtime confs even on a session the engine did not build."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E

    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "65535")
    session._TUNED.discard(id(spark))
    df = spark.range(3)
    df.write.mode("overwrite").parquet(f"{tmp_path}/region.parquet")
    E._t(spark, str(tmp_path), "region")
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"
