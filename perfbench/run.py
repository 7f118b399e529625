"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run writes the
synthetic input tables under ``perfbench/_data``; later runs reuse them.
Each run gets its own TMPDIR, SPARK_LOCAL_DIRS and event-log directory under
``perfbench/_runs``, removed when the run ends, and puts the package root
on the Python workers' PYTHONPATH. The measured run itself happens in a
child process (``engine.py``) in its own session; when it exits, whatever
it left running in that session is stopped and waited for. Per-run details
(samples, spans, context) are kept under ``perfbench/_out``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

PACKAGE = "gisaid_pipeline_functions_spark"


def _spark_conf(run_dir: str, trace: bool) -> str:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def _stop_group(pgid: int, timeout: float = 30.0) -> None:
    """SIGTERM, then SIGKILL, whatever is left in the run's process group,
    and wait until the group is empty."""
    for sig, grace in ((signal.SIGTERM, timeout / 2), (signal.SIGKILL, timeout / 2)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--digests", default=os.path.join(HERE, "digests.json"),
                   help="recorded output digests to check against")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    from datagen import generate

    workload = WORKLOADS[args.workload]
    data_dir = generate(os.path.join(HERE, "_data", f"sf{workload.scale:g}"), workload.scale)
    run_dir = os.path.join(HERE, "_runs", f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "spark-local"))
    os.makedirs(os.path.join(run_dir, "eventlog"))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": _spark_conf(run_dir, bool(args.trace)),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data-dir", data_dir, "--run-dir", run_dir,
        "--out-dir", os.path.join(HERE, "_out"), "--digests", args.digests,
    ]
    # SIGTERM to this launcher unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        return child.wait()
    finally:
        if child.poll() is None:
            child.terminate()
            child.wait()
        _stop_group(child.pid)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
