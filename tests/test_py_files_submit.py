"""The north-rule launch mode: `spark-submit --py-files kiez_spark.zip`
from a NEUTRAL working directory (the repo checkout must not be on any
import path — the zip is the only way workers and driver can import the
package). Small end-to-end runs of a job file copied alone, JSON report
parsed from stdout."""

import json
import os
import shutil
import subprocess
import sys
import zipfile


def _zip_package(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = tmp_path / "kiez_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(repo, "kiez_spark")
        for root, _dirs, names in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for name in names:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                z.write(full, os.path.relpath(full, repo))
    return repo, zpath


def _spark_submit(tmp_path, job, args):
    """Run jobs/<job> copied ALONE into tmp_path under spark-submit
    --py-files kiez_spark.zip; the last stdout line's JSON report."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        spark_home = os.environ.get("SPARK_HOME")
        if spark_home:
            spark_submit = os.path.join(spark_home, "bin", "spark-submit")
    if not spark_submit or not os.path.exists(spark_submit):
        import pytest

        pytest.skip("spark-submit not on PATH")

    repo, zpath = _zip_package(tmp_path)
    shutil.copy(os.path.join(repo, "jobs", job), tmp_path / job)
    env = {
        k: v
        for k, v in os.environ.items()
        # scrub anything that could leak the checkout onto sys.path
        if k not in ("PYTHONPATH",)
    }
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", str(zpath),
            str(tmp_path / job),
            *args,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:] + proc.stdout[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spark_submit_py_files_er_job(tmp_path):
    report = _spark_submit(tmp_path, "run_er.py", [
        "--synthetic", "300",
        "--output", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--evaluate-gold",
    ])
    assert report["sha_violations"] == 0
    assert report["pairwise"]["f1"] >= 0.99


def test_spark_submit_py_files_linkage_state_job(tmp_path):
    """run_linkage.py shipped alone: its state mode imports nothing but
    the package zip (no other job file beside it)."""
    report = _spark_submit(tmp_path, "run_linkage.py", [
        "--synthetic", "300",
        "--output", str(tmp_path / "out"),
        "--state-dir", str(tmp_path / "state"),
        "--max-dist", "12.0",
    ])
    assert report["state_version"] == 1
    assert report["sha_violations"] == 0
