"""Benchmark entry point.

    python3 perfbench/run.py --workload crud --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a source tree of this repository and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. Everything the run
writes (store roots, Spark scratch, temporary files) lives under
``.bench_tmp/`` in the tree and is removed before it exits.

Exit codes: 0 after a completed run (its correctness is in the JSON),
2 for bad arguments, 3 when the tree holds no ``hyper_storage_spark``
package, 1 when the run itself failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workload as wl  # noqa: E402

DRIVER_MEMORY = "2g"


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_environment(work_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work_dir``, and make the package importable by Spark's Python
    workers. Must run before pyspark is imported."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-memory", DRIVER_MEMORY,
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.local.dir={os.path.join(work_dir, 'spark-local')}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}"),
            "--conf", shlex.quote(f"spark.executorEnv.PYTHONPATH={ROOT}"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )


def start_spark():
    """The library's own session factory on local[nproc]; returns
    (session, seconds it took, JVM process)."""
    from hyper_storage_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus())
    return spark, time.perf_counter() - t, spark.sparkContext._gateway.proc


def stop_spark(spark, proc) -> None:
    """Stop the session and wait until the JVM has exited."""
    try:
        spark.stop()
    finally:
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="write per-run diagnostics (failures, sample counts, "
                                     "percentile boundary ratios) to this JSON file, and "
                                     "a traced run's spans to FILE.spans.jsonl")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hyper_storage_spark", "__init__.py")):
        print(f"perfbench: no hyper_storage_spark package under {ROOT}", file=sys.stderr)
        return 3
    work_dir = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work_dir)
    prepare_environment(work_dir)
    sys.path.insert(0, ROOT)
    spark = proc = None
    try:
        from runner import WorkloadRun

        spec = wl.SPECS[args.workload]
        start_s = 0.0
        if spec.needs_spark:
            spark, start_s, proc = start_spark()
        run = WorkloadRun(spec, args.seed, args.seconds, bool(args.trace), work_dir, spark)
        run.session_start_s, run.jvm_pid = start_s, proc.pid if proc is not None else None
        out = run.run()
        detail = out.pop("detail")
        if args.detail:
            with open(args.detail, "w") as fh:
                json.dump(detail, fh, indent=1)
            if run.tracer is not None:
                run.tracer.dump(args.detail + ".spans.jsonl")
        for f in detail["failures"]:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        result = {
            "correct": out["correct"],
            "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
        }
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark, proc)
        shutil.rmtree(work_dir, ignore_errors=True)
        parent = os.path.dirname(work_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
