"""Session factory behaviour that only shows in a fresh driver process."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = f"""
import sys
sys.path.insert(0, {ROOT!r})  # the driver's path only; workers do not see it
from pyspark.sql import functions as F
from tods_spark.functions import sketches
from tods_spark.session import get_spark

spark = get_spark(app_name="pythonpath_probe", cores=1, shuffle_partitions=1)
# pickled by reference: the worker has to import tods_spark to run it
q = F.udf(sketches.digest_quantile, "double")
row = spark.range(1).select(q(F.array(F.lit(1.0), F.lit(3.0)), F.lit(0.5))
                            .alias("q")).first()
print("Q=", row.q)
spark.stop()
"""


def test_workers_import_package_from_any_working_directory(tmp_path):
    """A driver started outside the repo runs a UDF that needs tods_spark
    in the Python worker: get_spark puts the package root on the workers'
    path before the JVM starts."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "Q= 2.0" in out.stdout
