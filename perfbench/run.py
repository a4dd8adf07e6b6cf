#!/usr/bin/env python3
"""Cold, layer-attributed benchmark of nano_vectordb_spark.

    python3 perfbench/run.py --workload vector_search --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a SparkSession on
``local[<nproc>]``, generates its inputs from ``--seed`` into
``.perfbench_work/``, sets up (warm-up operations checked in full
against NumPy or the DuckDB oracles), then runs a closed loop of
operations for ``--seconds`` and checks every result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations in the same window and reports the
per-layer metrics of the traced ones, plus ``trace.overhead_frac``: the
traced median operation time over the untraced one, minus one.

Human-readable lines (launch record, the per-workload figures) come
first; the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _prepare_env(work: str, cpus: int) -> None:
    """Everything the JVM and the Python workers inherit, set before the
    session starts.

    Scratch (shuffle, spill, JVM and Python temp files) stays inside the
    checkout; -XX:-UsePerfData stops the JVM writing
    /tmp/hsperfdata_<user>. The heap starts at its full 2 GB, so the
    JVM's resident size does not depend on when the heap happened to
    grow. Python workers get the repository root on PYTHONPATH: they
    import nano_vectordb_spark by name, and without it a run from
    another working directory fails with ModuleNotFoundError in
    corpus_clean's Arrow UDF."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_ORACLE_SF"] = os.path.join(work, "fixture")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS", str(cpus))


def _tree_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and every live
    descendant, in MB: this process as "main", the rest summed per
    command name (java for the JVM, python3 for the Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    me = os.getpid()
    out: dict[str, float] = {}
    for pid in parent:
        p, seen = pid, set()
        while p > 1 and p != me and p not in seen:
            seen.add(p)
            p = parent.get(p, 0)
        if p != me:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = "main" if pid == me else fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def _tree_cpu_s(snap0: dict, snap1: dict) -> float:
    """CPU seconds (user + system) this process and its descendants used
    between two ``bench._proc_cpu_snapshot`` snapshots."""
    me = os.getpid()
    total = 0
    for pid, (j1, _) in snap1.items():
        p, seen = pid, set()
        while p > 1 and p != me and p not in seen:
            seen.add(p)
            p = snap1.get(p, (0, 0))[1]
        if p == me:
            total += j1 - snap0.get(pid, (0, 0))[0]
    return total / (os.sysconf("SC_CLK_TCK") or 100)


def _stop(spark) -> None:
    """Stop the session, then the JVM gateway process PySpark launched,
    and wait for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(traced_ops: list[dict], setup_layers: dict, session_s: float) -> dict:
    """Median over traced operations of each span's per-operation total;
    spans seen only while setting up (the IVF index build) report their
    set-up value; spans never entered report 0."""
    from spans import COUNTERS, RATIOS, SPANS

    unit = {"jobs": "count", "shuffle_bytes": "B", "spill_bytes": "B", "python_bytes": "B"}
    setup_layers = dict(setup_layers)
    setup_layers["session.get_spark"] = dict.fromkeys(COUNTERS, 0.0)
    setup_layers["session.get_spark"].update(wall_s=session_s, self_s=session_s)
    out = {}
    for span in SPANS:
        seen = [op["layers"][span] for op in traced_ops if span in op["layers"]]
        for c in COUNTERS:
            if seen:
                v = statistics.median(op["layers"].get(span, {}).get(c, 0.0) for op in traced_ops)
            else:
                v = setup_layers.get(span, {}).get(c, 0.0)
            out[f"{span}.{c}"] = {"value": v, "unit": unit.get(c, "s")}
    for r in RATIOS:
        vals = [op["ratios"][r] for op in traced_ops if r in op["ratios"]]
        out[r] = {"value": statistics.median(vals) if vals else 0.0, "unit": "ratio"}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    try:
        bench = importlib.import_module("bench")
        importlib.import_module("nano_vectordb_spark")
        importlib.import_module("oracle_harness")
    except ImportError as e:
        print(f"perfbench: run from a repository checkout ({e})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        t_setup = time.perf_counter()
        _prepare_env(work, cpus)
        from nano_vectordb_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus)
        session_s = time.perf_counter() - t_setup
        return _run(args, wl, spark, bench, work, cpus, t_setup, session_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, spark, bench, work, cpus, t_setup, session_s) -> int:
    from spans import Tracer
    from workloads import Ctx

    tracer = Tracer(spark) if args.trace else None
    ctx = Ctx(spark=spark, seed=args.seed, work=work)
    mods = {m: importlib.import_module(m) for m, _, _ in wl.patches}

    def traced(fn):
        """Run ``fn`` with the layer functions wrapped in spans."""
        undo = [tracer.wrap(mods[m], attr, name) for m, attr, name in wl.patches]
        untraced_span, ctx.span = ctx.span, tracer.span
        tracer.begin_op()
        try:
            res = fn()
        finally:
            for u in reversed(undo):
                u()
            ctx.span = untraced_span
        return res, tracer.end_op()

    rss = [_tree_rss_mb()]
    if tracer:
        _, (setup_layers, _) = traced(lambda: wl.setup(ctx))
    else:
        setup_layers = {}
        wl.setup(ctx)
    setup_s = time.perf_counter() - t_setup
    rss.append(_tree_rss_mb())

    plain: list = []
    traced_ops: list[dict] = []
    snaps = [bench._proc_cpu_snapshot()]
    t0 = time.perf_counter()
    i = 0
    while True:
        if tracer and i % 2:
            op, (layers, execs) = traced(lambda: wl.op(ctx, i))
            traced_ops.append({"op": op, "layers": layers, "ratios": wl.ratios(op, execs)})
        else:
            op = wl.op(ctx, i)
            plain.append(op)
        snaps.append(bench._proc_cpu_snapshot())
        op.parts["cpu_s"] = _tree_cpu_s(snaps[-2], snaps[-1])
        rss.append(_tree_rss_mb())
        i += 1
        if time.perf_counter() - t0 >= args.seconds and (not tracer or i % 2 == 0):
            break
    window = time.perf_counter() - t0
    ops = plain + [t["op"] for t in traced_ops]
    failed = sum(not op.ok for op in ops)
    p50 = statistics.median(op.wall_s for op in plain)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "load": "closed loop, 1 client, 1 thread",
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "host": bench._host_fingerprint(),
        "foreign_cpu_cores_avg": bench._foreign_cpu_cores_reps(snaps, window),
        "operations": len(ops),
        "untraced_operations": len(plain),
        "op_walls_s": [round(op.wall_s, 4) for op in ops],
        "peak_rss_mb_by_process": max(rss, key=lambda r: sum(r.values())),
        "op_parts_s": [{k: round(v, 4) for k, v in op.parts.items()} for op in ops],
        "setup_failures": ctx.setup_failures,
        **ctx.report,
    }
    print("# launch " + json.dumps(report, sort_keys=True))
    figures = [
        ("error_rate", failed / len(ops), "ratio", len(ops)),
        ("op_p50_s", p50, "s", len(plain)),
        ("op_cpu_p50_s", statistics.median(op.parts["cpu_s"] for op in plain), "s", len(plain)),
    ] + wl.figures(plain, ctx.report)
    for name, value, unit, n in figures:
        print(f"# {name} = {value:.6g} {unit}  (n={n})")

    if tracer:
        metrics = _layer_metrics(traced_ops, setup_layers, session_s)
        traced_p50 = statistics.median(t["op"].wall_s for t in traced_ops)
        metrics["trace.overhead_frac"] = {"value": traced_p50 / p50 - 1.0, "unit": "ratio"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": p50, "unit": "s"},
            "peak_rss_mb": {"value": max(sum(r.values()) for r in rss), "unit": "MB"},
        }
    print(
        json.dumps(
            {
                "correct": failed == 0 and not ctx.setup_failures,
                "attempted": len(ops),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
