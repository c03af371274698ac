"""Session tuning that must hold on ANY SparkSession the engine runs
under (the driver harness, perfbench, tests, user sessions) — runtime
SQL confs only, applied idempotently.

Why ``spark.sql.codegen.hugeMethodLimit=8000``: HotSpot never
JIT-compiles a method larger than 8000 bytecodes
(-XX:DontCompileHugeMethods, on by default), so a whole-stage-codegen
method between 8000 and Spark's 65535 default limit runs in the
BYTECODE INTERPRETER forever.  Wide violation projections and
unrolled arithmetic routinely land in that dead zone: measured on a
64-dim unrolled dot product over 250k pairs, the default setting runs 5.6s
steady-state vs 1.2s with the limit at 8000 — because the fallback
path (Volcano iterator + per-expression codegen, which splits into
JIT-able sub-methods) is strictly faster than interpreted bytecode.
8000 aligns Spark's own fallback decision with what the JVM will
actually compile.  See SPARK-21871 (the conf exists precisely for
this).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

_TUNED: set[int] = set()

RUNTIME_CONFS = {
    # align whole-stage-codegen fallback with HotSpot's JIT ceiling
    # (DontCompileHugeMethods = 8000 bytecodes); see module docstring
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to ``spark`` (idempotent,
    cheap — safe to call from every query entry point)."""
    key = id(spark)
    if key in _TUNED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a locked/static conf on an exotic deployment must not
            # break correctness paths
            pass
    _TUNED.add(key)
    return spark
