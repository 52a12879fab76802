"""Deployment surface: a real `spark-submit --py-files` launch.

The north rule requires the job to launch via spark-submit --py-files
on a cluster; this smoke test runs the actual binary with the built
zip on local[2], from a cwd where the package is NOT on sys.path, so
the import genuinely resolves from --py-files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
import yaml

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_runs_job(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "batch3dfier_spark.zip"))

    # tiny input corpus written without Spark
    sys.path.insert(0, ROOT)
    from oracle_kernels import write_pages_parquet

    pages = tmp_path / "pages.parquet"
    write_pages_parquet(str(pages), 400)

    cfg = {
        "input": {"pages": str(pages)},
        "tile_index": {"nx": 4, "ny": 4},
        "mode": {"tile_list": ["all"]},
        "output": {"table": str(tmp_path / "out_table")},
        "parallelism": 2,
    }
    cfg_path = tmp_path / "job.yml"
    cfg_path.write_text(yaml.safe_dump(cfg))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(ROOT, "tools", "submit_job.py"),
            "run", str(cfg_path),
        ],
        cwd=str(tmp_path),       # package not importable from here...
        env=env,                 # ...and not via PYTHONPATH either
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert report["tiles_total"] == 16
    assert report["tiles_ok"] == 16
