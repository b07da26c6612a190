"""Session construction seen from outside the checkout."""
from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_workers_import_package_without_pythonpath(tmp_path):
    """A driver script run from another directory, importing puddin_spark
    only through sys.path, runs a pandas UDF defined in the package: the
    Python workers unpickle it by module name, so get_spark must hand them
    the package's location before the JVM starts."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from puddin_spark.operators.dedup import simhash_udf
        from puddin_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        df = spark.createDataFrame([("alpha beta gamma",)], "text string")
        (h,) = df.select(simhash_udf("text")).first()
        print("SIMHASH", h)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "SIMHASH" in out.stdout
