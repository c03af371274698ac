"""North-rule operational contract: the engine runs via
``spark-submit --py-files jsonschema_spark.zip jsonschema_spark/cli.py``.

The test builds the real dist zip (tools/package.py) and launches a
real ``spark-submit`` subprocess with cwd OUTSIDE the repo, so
``import jsonschema_spark`` can only resolve from the ``--py-files``
zip — the exact mechanism a multi-executor cluster submit relies on.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_run(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import package as pkg

        zip_path = pkg.main()
    finally:
        sys.path.pop(0)
    assert os.path.exists(zip_path)

    out = tmp_path / "out"
    cfg = {
        "source": "/root/testdata/sf0.001/events.parquet",
        "schema": {
            "required": ["event_id"],
            "properties": {
                "event_type": {
                    "enum": ["click", "view", "purchase", "error", "signup"]
                },
                "value": {"minimum": 0},
            },
        },
        "keys": ["event_id"],
        "checks": {"uniqueness": {"keys": ["event_id"]}},
        "output": {
            "verdicts": str(out / "verdicts"),
            "violations": str(out / "violations"),
            "manifest": str(out / "manifest"),
        },
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))

    env = dict(os.environ)
    # cwd outside the repo + no PYTHONPATH: the package must come from
    # the --py-files zip
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "jsonschema_spark", "cli.py"),
            "run", str(cfg_path),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the verdict sink is partitioned by (partition_id, check)
    verdicts = duckdb.sql(
        f"SELECT \"check\", pass FROM read_parquet("
        f"'{out}/verdicts/*/*/*.parquet', hive_partitioning = true)"
    ).fetchall()
    names = {v[0] for v in verdicts}
    assert {"schema", "uniqueness"} <= names
    assert all(v[1] for v in verdicts if v[0] == "uniqueness")
    manifest = duckdb.sql(
        f"SELECT count(*) FROM parquet_scan('{out}/manifest/*.parquet')"
    ).fetchone()[0]
    assert manifest >= 2
