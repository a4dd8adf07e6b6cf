"""Cold really is cold: two consecutive cold invocations of each of the 14
headline entries (the registry_cold pass) launch the same number of
Spark jobs while building their plan. A memo that survived
``registry.release_caches()`` would make the second build launch fewer
jobs, and the benchmark would count that memo hit as speed.

    python3 -m pytest perfbench/test_cold_build_jobs.py -q -p no:cacheprovider

Run from the repository root; takes about two minutes on 4 cores.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import bench  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark_and_dir():
    work = os.path.join(ROOT, ".perfbench_work", f"test-{os.getpid()}")
    fixture = os.path.join(work, "fixture")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    gen.write_registry_fixture(fixture, seed=7)
    from nano_vectordb_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", cpus=len(os.sched_getaffinity(0)))
    try:
        yield spark, fixture
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def _cold_build_jobs(spark, name: str, sf_dir: str, tag: str) -> int:
    from nano_vectordb_spark import registry

    registry.release_caches()
    sc = spark.sparkContext
    group = f"cold-build-{name}-{tag}"
    sc.setJobGroup(group, name)
    try:
        registry.REGISTRY[name].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", bench.BENCH_QUERIES)
def test_consecutive_cold_builds_launch_the_same_jobs(spark_and_dir, name):
    spark, sf_dir = spark_and_dir
    first = _cold_build_jobs(spark, name, sf_dir, "1")
    second = _cold_build_jobs(spark, name, sf_dir, "2")
    assert first == second, f"{name}: {first} build jobs cold, {second} on the next cold build"
