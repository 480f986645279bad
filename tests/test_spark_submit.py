"""North_rule submission protocol: the SAME artifact runs via
``spark-submit --py-files <zip>`` (the only way code ships to executors on a
real cluster — local imports don't exist there).  This test packages the
engine, submits the build job as a subprocess with NO repo dir on
PYTHONPATH, and checks the printed metrics + a smoke query.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="testdata missing")
def test_spark_submit_pyfiles_build_and_query(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import make_zip

    zip_path = make_zip(str(tmp_path / "avs.zip"))
    # deterministic packaging: re-zipping an unchanged tree is byte-identical
    zip2 = make_zip(str(tmp_path / "avs2.zip"))
    assert open(zip_path, "rb").read() == open(zip2, "rb").read()

    index_dir = str(tmp_path / "idx")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "submit_index_build.py"),
            "--input", f"{SF_DIR}/documents.parquet",
            "--index-dir", index_dir,
            "--docs-per-shard", "256",
            "--query", "spark window merge",
        ],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo: forces imports through the zip
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    metrics = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert metrics["n_docs"] > 0
    assert metrics["docs_per_sec"] > 0
    assert len(metrics["query_top"]) > 0
    scores = [s for _d, s in metrics["query_top"]]
    assert scores == sorted(scores, reverse=True)
