"""Launcher for the record-linkage benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It sets the process environment the
engine needs and starts ``harness.py`` in a process group of its own:

- ``PYTHONPATH`` holds the checkout root, so the pandas-UDF workers that
  Spark forks can import the engine package whatever the caller's cwd;
- ``SPARK_DRIVER_MEMORY`` is sized for a small shared host (the session
  helper's default is 32g);
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's temp dir point into
  ``.perfbench_work/`` in the checkout, so a run writes nowhere else.

The harness's last stdout line is the result (one JSON object); the
launcher passes stdout through, returns the harness's exit code, and on
any exit kills and waits for whatever the run left in its process group.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark"
DRIVER_MEMORY = "3g"
TIMEOUT_S = 170


def _reap(proc: subprocess.Popen) -> None:
    """Stop every process left in the run's group and wait until none is."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        deadline = time.monotonic() + grace
        try:
            os.killpg(proc.pid, sig)
            while time.monotonic() < deadline:
                proc.poll()  # reap the harness itself once it exits
                os.killpg(proc.pid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            return


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # the driver JVM is launched by spark-submit, which reads this
        SPARK_SUBMIT_OPTS=" ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
    )
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), *argv, "--work", run_dir]
    # a SIGTERM to the launcher still reaps the run's process group below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        _reap(proc)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
