"""End-to-end evidence for the north-rule deployment path: the job runs
via REAL ``spark-submit --py-files docling_spark.zip`` (not an in-process
SparkSession), from a working directory OUTSIDE the repo so the shipped
zip is the only possible import source — exactly what a multi-executor
cluster submission exercises (each executor unpacks the same zip).
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SPARK_SUBMIT = pathlib.Path(sys.executable).parent / "spark-submit"
if not SPARK_SUBMIT.exists():
    try:
        import pyspark

        SPARK_SUBMIT = (pathlib.Path(pyspark.__file__).parent / "bin"
                        / "spark-submit")
    except ImportError:
        pass  # SPARK_SUBMIT stays nonexistent; the skipif below fires

pytestmark = pytest.mark.skipif(
    not SPARK_SUBMIT.exists(), reason="spark-submit binary not found"
)


def _build_zip(dest: pathlib.Path) -> pathlib.Path:
    zpath = dest / "docling_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for py in sorted((REPO / "docling_spark").rglob("*.py")):
            z.write(py, py.relative_to(REPO))
    return zpath


def test_spark_submit_py_files_job(tmp_path) -> None:
    zpath = _build_zip(tmp_path)
    # the entry script is submitted as a plain file (as on a cluster);
    # copied out of the repo so it cannot see the package via its own path
    entry = tmp_path / "main.py"
    shutil.copyfile(REPO / "docling_spark" / "jobs" / "main.py", entry)

    out = tmp_path / "extracted"
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_IP": "127.0.0.1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep the repo OFF every import path: the zip must provide it
        "PYTHONPATH": "",
    })
    proc = subprocess.run(
        [str(SPARK_SUBMIT),
         "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zpath),
         str(entry),
         "--synthetic-convs", "40",
         "--output-table", str(out),
         "--state-table", str(tmp_path / "state"),
         "--metrics-table", str(tmp_path / "metrics"),
         "--buckets", "4",
         "--run-id", "e2e_submit",
         "--to", "itxt"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["counts"].get("success", 0) > 0
    assert summary.get("export_itxt")

    import duckdb

    con = duckdb.connect()
    n_rows = con.execute(
        f"select count(*) from read_parquet('{out}/**/*.parquet')"
    ).fetchone()[0]
    n_turns = sum(summary["counts"].values())
    assert n_rows == n_turns > 0
    # metrics sidecar: the one row this run appended counts every turn
    m = con.execute(
        "select sum(n_turns) from "
        f"read_parquet('{tmp_path / 'metrics'}/**/*.parquet')"
    ).fetchone()[0]
    assert m == n_turns
