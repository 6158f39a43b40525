"""spark-submit --py-files packaging smoke test (BASELINE.json packaging
requirement): the dist zip must be importable by executors/driver WITHOUT
the repo on any path — build a mini index and run a ranked query end to
end from inside a spark-submit'd job."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = """
import sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .appName("pyfiles-smoke")
    .getOrCreate()
)
# the package must resolve from the --py-files zip, not a repo checkout
import holi_search_engine_spark
assert ".zip" in holi_search_engine_spark.__file__, holi_search_engine_spark.__file__
from holi_search_engine_spark.corpus import generate_transcripts_df, make_vocabulary
from holi_search_engine_spark.plans.index_build import build_index
from holi_search_engine_spark.query.ranker import RankerEngine

vocab = make_vocabulary()
df = generate_transcripts_df(spark, 80)
paths = build_index(spark, df, sys.argv[1], frozenset(vocab), buckets=2)
res = RankerEngine(spark, paths).search(" ".join(sorted(vocab)[:2]))
print("PYFILES_SMOKE_ROWS=%d" % len(res))
spark.stop()
"""


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    p = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return p if os.path.exists(p) else None


def test_spark_submit_with_pyfiles_zip(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not available")
    zip_path = os.path.join(REPO, "dist", "holi_search_engine_spark.zip")
    if not os.path.exists(zip_path):
        subprocess.run(["sh", os.path.join(REPO, "make_pyfiles.sh")], check=True)
    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # the zip must be the only source
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        [submit, "--py-files", zip_path, str(job), str(tmp_path / "idx")],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo — import must come from the zip
        env=env,
        timeout=570,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "PYFILES_SMOKE_ROWS=" in r.stdout, r.stdout[-2000:]
    rows = int(r.stdout.split("PYFILES_SMOKE_ROWS=")[1].split()[0])
    assert rows > 0


def test_pyfiles_zip_not_stale():
    """dist/…zip holds exactly the package's .py files, byte for byte — a
    stale bundle ships old code (or a deleted module) to the cluster
    silently."""
    import zipfile

    zip_path = os.path.join(REPO, "dist", "holi_search_engine_spark.zip")
    assert os.path.exists(zip_path), "run make_pyfiles.sh"
    z = zipfile.ZipFile(zip_path)
    names = set(z.namelist())
    package = set()
    for root, _, files in os.walk(os.path.join(REPO, "holi_search_engine_spark")):
        if "__pycache__" in root:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, REPO)
            package.add(rel)
            assert rel in names, f"{rel} missing from bundle (run make_pyfiles.sh)"
            with open(p, "rb") as fh:
                assert z.read(rel) == fh.read(), (
                    f"{rel} differs from the bundle (run make_pyfiles.sh)"
                )
    extra = names - package
    assert not extra, f"bundle holds files the package lacks: {sorted(extra)} (run make_pyfiles.sh)"
