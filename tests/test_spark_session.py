"""get_spark sets up the Python workers: a script run outside the checkout,
with no PYTHONPATH, can still run the engine's Arrow UDFs."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from emailcdc.session import get_spark
from emailcdc.udfs import extract_envelope

spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
df = spark.createDataFrame(
    [(0, "r", "a.txt", "c", "txt", "hello")],
    "offset long, repo string, path string, commit string, lang string,"
    " content string")
print("RECORDS", [r["record_type"] for r in extract_envelope(df).collect()])
spark.stop()
"""


def test_workers_import_package_outside_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER")}
    env["SPARK_DRIVER_MEM"] = "512m"
    proc = subprocess.run([sys.executable, "-c", SCRIPT], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RECORDS ['snapshot']" in proc.stdout
