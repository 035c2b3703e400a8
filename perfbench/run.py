"""Benchmark entry point: one seeded workload per invocation.

    python3 perfbench/run.py --workload docker_logs --seed 1 --seconds 14 --trace 0

Run from the repository root. The run pins its environment first:
``local[nproc]`` through ``SPARK_GRAFT_CPUS``, ``PYTHONPATH`` set to the
repository root for Spark's Python workers, and every file Spark, the
engine and the generator write under ``.perfbench_tmp/`` in the
repository, removed at exit. It times a fixed CPU-bound calibration
before and after the workload and records the drift (never used to
rescale a metric).

stdout ends with two lines: ``# record {...}`` (environment, calibration,
per-workload detail, trace overhead and unattributed time) and the result
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (names and units are read from
BENCHMARK.json); the traced run also writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("docker_logs", "llm_suite")


def calibrate() -> float:
    """Best-of-3 seconds of a fixed pure-Python CPU loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def source_digest() -> str:
    """sha256 over the engine sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "logsqlite_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_head() -> str | None:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


def pin_environment(tmp: Path, nproc: int, trace: bool) -> None:
    local = tmp / "spark-local"
    jtmp = tmp / "java-tmp"
    for d in (local, jtmp, tmp / "py-tmp"):
        d.mkdir(parents=True, exist_ok=True)
    confs = [f"spark.local.dir={local}",
             f"spark.sql.warehouse.dir={tmp / 'spark-warehouse'}",
             "spark.sql.streaming.numRecentProgressUpdates=1000"]
    if trace:  # keep every job and stage of the run in the status store
        confs += ["spark.ui.retainedJobs=1000000",
                  "spark.ui.retainedStages=1000000"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp / "py-tmp"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--conf {c}" for c in confs] + ["pyspark-shell"]),
        # every JVM, spark-submit's launcher too: no /tmp/hsperfdata files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
    })
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the context, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def load_workload(name: str):
    if name == "docker_logs":
        from wl_docker_logs import DockerLogsWorkload as W
    else:
        from wl_llm_suite import LlmSuiteWorkload as W
    return W


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "logsqlite_spark" / "__init__.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    e2e_units, layer_units = metric_units()

    nproc = len(os.sched_getaffinity(0))
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    pin_environment(tmp, nproc, bool(args.trace))
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "nproc": nproc, "git_head": git_head(),
                    "source_sha256": source_digest(),
                    "python": sys.version.split()[0]}
    calib0 = calibrate()
    spark = None
    try:
        import pyspark

        from logsqlite_spark.session import get_spark
        from spans import Tracer

        record["spark"] = pyspark.__version__
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer(bool(args.trace), spark.sparkContext)
        W = load_workload(args.workload)
        wl = W(spark, args.seed, args.seconds, tracer, tmp / "work")
        res = wl.run(session_s)
        if args.trace:
            out_dir.mkdir(exist_ok=True)
            tracer.write(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            (ROOT / ".perfbench_tmp").rmdir()
        except OSError:
            pass
    calib1 = calibrate()
    record.update(calib_before_s=calib0, calib_after_s=calib1,
                  calib_drift=calib1 / calib0)
    record.update(res["record"])

    last = out_dir / f"e2e-{args.workload}-{args.seed}.json"
    if args.trace:
        base = json.loads(last.read_text()) if last.exists() else None
        record["trace_overhead"] = (
            {k: res["e2e"][k] / v for k, v in base.items()
             if v and k in res["e2e"]}
            if base else "no untraced run of this workload and seed recorded")
        # a layer this workload does not load reads 0, and says so
        metrics = {k: res["layers"].get(k, 0.0) for k in layer_units}
        record["layers_not_exercised"] = sorted(
            set(layer_units) - set(res["layers"]))
    else:
        out_dir.mkdir(exist_ok=True)
        last.write_text(json.dumps(res["e2e"]))
        metrics = res["e2e"]
    units = layer_units if args.trace else e2e_units
    print("# record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
