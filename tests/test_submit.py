"""North-rule packaging evidence: the engine runs via
`spark-submit --py-files solaris_spark.zip` with the driver script OUTSIDE
the repo, so every import (driver + executors) resolves from the shipped
zip — the exact deployment shape of a real multi-executor cluster."""

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# A driver with no fixture: one Arrow map (the worker daemon must start)
# and one engine UDF (workers import solaris_spark from the zip).
PYTHON_TASKS = """
import json
from solaris_spark.operators import export
from solaris_spark.session import get_spark

spark = get_spark(cores=2)
n = spark.range(8).mapInArrow(lambda batches: batches, "id long").count()
df = spark.createDataFrame([("LINESTRING (1.26 2.31, 3.5 4.44)",)], "wkt string")
wkt = export.round_geometry(df, precision=1).first().wkt
print(json.dumps({"rows": n, "wkt": wkt,
                  "daemon": spark.conf.get("spark.python.daemon.module")}))
"""


def _zip_package(tmp_path) -> str:
    zip_path = str(tmp_path / "solaris_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "solaris_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


class TestSparkSubmit:
    def test_py_files_zip_runs_python_tasks(self, tmp_path):
        """The package shipped only as a --py-files zip, the driver outside
        the repo: Python workers must start (on the stock daemon, as the
        engine's one cannot be imported before a task adds the zip) and
        import the engine."""
        zip_path = _zip_package(tmp_path)
        script = tmp_path / "python_tasks.py"
        script.write_text(PYTHON_TASKS)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        res = subprocess.run(
            ["spark-submit", "--master", "local[2]",
             "--conf", "spark.ui.enabled=false",
             "--py-files", zip_path, str(script)],
            capture_output=True, text=True, timeout=300, env=env,
            cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-2000:]
        assert json.loads(res.stdout.strip().splitlines()[-1]) == {
            "rows": 8, "wkt": "LINESTRING (1.3 2.3, 3.5 4.4)",
            "daemon": "pyspark.daemon"}

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_py_files_zip_pipeline(self, tmp_path):
        zip_path = _zip_package(tmp_path)
        # copy the driver script OUT of the repo: its sys.path fallback then
        # points at tmp_path (no package there), so only --py-files can
        # satisfy the solaris_spark imports
        script = str(tmp_path / "run_pipeline.py")
        shutil.copy(os.path.join(REPO, "scripts", "run_pipeline.py"), script)
        out_dir = str(tmp_path / "out")
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        res = subprocess.run(
            ["spark-submit", "--master", "local[4]",
             "--py-files", zip_path, script,
             "--images", "6", "--out", out_dir, "--n-parts", "3"],
            capture_output=True, text=True, timeout=420, env=env,
            cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-2000:]
        summary = json.loads(res.stdout.strip().splitlines()[-1])
        assert summary["processed"] == 3
        assert summary["tiles_out"] > 0
        assert os.path.isdir(os.path.join(out_dir, "lineage"))
