"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_sf1 --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The first run builds
the inputs under ``perfbench/.work`` (deterministic sf0.1 tables, the sf1
fixture from ``gen_sf1.build``, one untimed priming pass); later runs
reuse them. Each run then starts a fresh driver process: closed loop, one
query in flight, ``local[<nproc>]``. It reports

* ``setup_s``: process start to a ready session (package import,
  ``get_spark``, one trivial job);
* ``cold_pass_s``: the first pass over the workload's keys in that
  session; ``warm_pass_s``: the median of the passes after it, which go
  on until they add up to ``--seconds`` (at least three). ``--seed``
  permutes the key order of the warm passes.

After the timing the driver checks every key's output against its DuckDB
oracle or recorded value hash. ``--trace 1`` is a separate run that prints
the per-layer metrics instead (see driver.py). The line before the result
is the environment stamp: versions, cpus, load average, fixture and
priming times, per-key check results, ``failed_frac`` and the peak
resident memory of the driver's process tree (Python driver, JVM, Python
workers). The full result, spans included, goes to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from driver import primed_keys  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
UNITS = {"s": "s", "mb": "MB", "pct": "%", "ratio": "ratio"}


def unit(name: str) -> str:
    """Unit from the metric name's last ``_``/``.`` part; else a count."""
    return UNITS.get(re.split(r"[._]", name)[-1], "count")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def env() -> dict:
    """Child environment: every scratch file stays inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    e = dict(os.environ)
    e.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    e.pop("PYSPARK_SUBMIT_ARGS", None)
    return e


def _pgid_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                if os.getpgid(int(pid)) == pgid:
                    return True
            except OSError:
                pass
    return False


def reap(proc: subprocess.Popen) -> None:
    """Kill the child's whole process group and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        proc.wait()
        end = time.monotonic() + 10
        while _pgid_alive(proc.pid) and time.monotonic() < end:
            time.sleep(0.05)
        if not _pgid_alive(proc.pid):
            return


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and its descendants, in KiB.

    A JVM child that still runs the java image is a fork that has not
    exec'd yet (Hadoop shells out through ProcessBuilder); its pages are
    the JVM's own, so it is left out instead of doubling the JVM's RSS.
    """
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(pid))
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if exe == parent_exe and os.path.basename(exe) == "java":
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_KB
        except (OSError, IndexError, ValueError):
            continue
        todo.extend((kid, exe) for kid in kids.get(pid, ()))
    return total


def spawn(args: list[str]) -> tuple[subprocess.Popen, float]:
    """Start driver.py in its own process group; stderr goes to a log."""
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{args[1]}.log"), "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), *args],
            cwd=ROOT,
            env=env(),
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=err,
            text=True,
            start_new_session=True,
        )
    return proc, t0


def wait_ready(proc: subprocess.Popen) -> float:
    for line in proc.stdout:
        if line.startswith("READY "):
            return float(line.split()[1])
    raise RuntimeError(f"driver exited with {proc.wait()} before it was ready")


def fixture() -> dict:
    """Build inputs and prime .tmp once per checkout (file-locked)."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "fixture.json")
    with open(os.path.join(WORK, "fixture.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if _read(stamp).get("keys") != primed_keys():
            proc, _ = spawn(["--mode", "fixture"])
            proc.stdin.close()
            code = proc.wait()
            reap(proc)
            if code != 0 or _read(stamp).get("keys") != primed_keys():
                raise RuntimeError(f"fixture build failed ({code})")
    return _read(stamp)


def _read(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def measured_run(a, out: str) -> tuple[dict, float, float]:
    """The driver run; returns its result, setup time and peak tree RSS."""
    proc, t0 = spawn(
        ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
    )
    peak = [0]
    done = threading.Event()

    def sample():
        while not done.wait(0.1):
            peak[0] = max(peak[0], tree_rss_kb(proc.pid))

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        setup = wait_ready(proc) - t0
        proc.stdout.read()
        code = proc.wait()
    finally:
        done.set()
        sampler.join()
        reap(proc)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"driver run failed ({code})")
    with open(out) as f:
        return json.load(f), setup, peak[0] / 1024.0


def source_commit() -> str:
    """Git commit of the checkout, or a hash of the engine's sources."""
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, check=True,
        ).stdout.split()
        if os.path.samefile(top, ROOT):
            return head
    except (OSError, ValueError, subprocess.CalledProcessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "week3_2_practice_big_data__spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(f.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(
        os.path.join(ROOT, "week3_2_practice_big_data__spark", "__init__.py")
    ):
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    fx = fixture()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    res, setup, peak_mb = measured_run(a, out)
    failed_frac = res["failed"] / res["attempted"]
    stamp = {
        "workload": a.workload, "seed": a.seed, "sf": res["sf"],
        "cpus": res["cpus"], "commit": source_commit(),
        "versions": res["versions"], "loadavg_start": res["loadavg_start"],
        "loadavg_end": res["loadavg_end"], "fixture_s": fx["fixture_s"],
        "priming_s": fx["priming_s"], "check_s": res["check_s"],
        "passes": res["passes"], "checks": res["checks"], "errors": res["errors"],
        "failed_frac": {"value": failed_frac, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }
    stamp["run_wall_s"] = time.monotonic() - t0
    res["stamp"] = stamp
    if a.trace:
        metrics = dict(res["trace"]["metrics"])
        metrics["session.import_s"] = res["setup"]["import_s"]
        metrics["session.start_s"] = res["setup"]["start_s"]
        metrics["memory.peak_rss_mb"] = peak_mb
    else:
        metrics = {
            "setup_s": setup,
            "cold_pass_s": res["passes"][0]["wall_s"],
            "warm_pass_s": statistics.median(p["wall_s"] for p in res["passes"][1:]),
        }
        res["end_to_end"] = metrics
    with open(out, "w") as f:
        json.dump(res, f, indent=1, default=str)
    print(json.dumps(stamp, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
