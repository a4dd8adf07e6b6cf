"""The engine behaves the same from any working directory: Python
workers import ``nano_vectordb_spark`` from the zip that ``get_spark``
ships, not from the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    f"""
    import sys
    sys.path.insert(0, {REPO!r})  # the driver only; workers get no path
    from nano_vectordb_spark import registry
    from nano_vectordb_spark.operators import ivf, sample, topk
    from nano_vectordb_spark.session import get_spark

    spark = get_spark(app_name="nvdb-workdir", cpus=2)
    base = spark.read.parquet("{SF_SMOKE}/embeddings.parquet")
    q = sample.sample_queries(base, 3, seed=1)
    assert topk.topk_multi(base, q, 5).count() == 15
    assert ivf.ivf_search(ivf.ivf_build(base, 4, seed=1), q, 5, 2).count() == 15
    assert registry.REGISTRY["corpus_clean"].fn(spark, "{SF_SMOKE}").count() > 0
    print("WORKDIR-OK")
    """
)


def test_entries_run_from_foreign_working_directory(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_LOCAL_IP="127.0.0.1")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "WORKDIR-OK" in out.stdout, out.stderr[-4000:]
