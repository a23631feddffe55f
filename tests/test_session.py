import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_library_from_any_directory(tmp_path):
    """A script run outside the repository, with the repository on its
    own ``sys.path`` only, runs a plan whose pandas UDF is a library
    function: ``get_spark`` puts the package on the workers' PYTHONPATH,
    so the workers do not depend on the driver's working directory."""
    script = tmp_path / "cluster.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from dask_groupby_spark import get_spark
        from dask_groupby_spark.operators.dedup import duplicate_clusters

        spark = get_spark("workers-pythonpath", cpus=2, shuffle_partitions=2)
        pairs = spark.createDataFrame(pd.DataFrame({{"id_a": [1, 2, 8], "id_b": [2, 3, 9]}}))
        print(sorted(tuple(r) for r in duplicate_clusters(pairs).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)]"
