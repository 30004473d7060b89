"""Layered benchmark of the causality engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Builds seeded inputs (``gen.py``, cached by seed and scale, generation
time reported apart from ``setup_s``), then runs the workload in a
fresh measured process (``measure.py``) on ``local[nproc]``, and prints
as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see ``perfbench/README.md``).  The
line before it is a JSON detail record: sample counts, the
workload-specific metric names, the quiet-box record (nproc,
``SPARK_GRAFT_CPUS``, load average before and after, the share of CPU
time the hypervisor stole during the run) and the cycle-to-cycle drift.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout; the Spark JVM and its Python workers are waited for before
exit.  Exits non-zero without a result line when the engine package is
missing or a run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback

import gen
from tracing import MemSampler, process_children

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "causality_between_elements_based_on_time_series_data_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("query_mix", "amtl_fit")
SF = 0.01  # base scale factor of the inputs (the self-test uses 0.001)
CHILD_TIMEOUT_S = 165
PR_SET_CHILD_SUBREAPER = 36


def reap_all(grace_s: float = 20.0) -> None:
    """Wait for every descendant (orphans re-parent to us as a
    subreaper); kill whatever is still alive after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        kids = process_children().get(os.getpid(), [])
        if not kids:
            return
        if time.monotonic() > deadline:
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def child_env() -> dict[str, str]:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    for name in ("tmp", "spark-local", "jtmp"):
        os.makedirs(os.path.join(WORK, name), exist_ok=True)
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_SUBMIT_OPTS"] = (
        env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={WORK}/jtmp"
    ).strip()
    env.pop("PYTHONPATH", None)  # workers must not import the package
    return env


def run_once(
    workload: str,
    seed: int,
    seconds: float,
    trace: int,
    sf: float,
    inject_wrong: bool = False,
    min_cycles: int | None = None,
) -> dict:
    """Generate inputs, run the measured process, return its record."""
    t0 = time.monotonic()
    data_dir = gen.generate(os.path.join(WORK, "data"), seed, sf)
    gen_s = time.monotonic() - t0

    env = child_env()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    shutil.rmtree(env["TMPDIR"], ignore_errors=True)
    os.makedirs(env["TMPDIR"])
    result_path = os.path.join(run_dir, "result.json")
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    usage_before = resource.getrusage(resource.RUSAGE_CHILDREN)
    t_spawn = time.monotonic()
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", data_dir, "--work", run_dir,
        "--result", result_path, "--t-spawn", repr(t_spawn),
    ]
    if inject_wrong:
        cmd.append("--inject-wrong")
    if min_cycles is not None:
        cmd += ["--min-cycles", str(min_cycles)]
    child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    mem = MemSampler(child.pid)  # sampled from here, not inside the measured process
    mem.start()
    rc, grace = -1, 0.0
    try:
        rc, grace = child.wait(timeout=CHILD_TIMEOUT_S), 20.0
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM/SIGINT: take the JVM and workers down with us
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        reap_all(grace)
        peak = mem.stop()
    if rc != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"measured process failed (exit {rc})")
    with open(result_path) as fh:
        rec = json.load(fh)
    ticks = [b - a for a, b in zip(ticks_before, cpu_ticks())]
    usage = resource.getrusage(resource.RUSAGE_CHILDREN)
    if "per_layer" in rec:
        rec["per_layer"]["session.peak_rss_mb"] = peak / 2**20
    rec["detail"].update(
        peak_rss_mb=peak / 2**20,
        peak_rss_parts_mb={p: v / 2**20 for p, v in mem.peak_parts.items()},
        workload=workload,
        seed=seed,
        sf=sf,
        gen_s=gen_s,
        nproc=os.cpu_count(),
        spark_graft_cpus=env["SPARK_GRAFT_CPUS"],
        load_avg={"before": load_before, "after": os.getloadavg()},
        # CPU time the hypervisor gave to other guests while we ran
        cpu_steal_share=ticks[7] / max(sum(ticks), 1),
        cpu_iowait_share=ticks[4] / max(sum(ticks), 1),
        # CPU time of the measured process tree (every descendant that was waited for)
        tree_cpu_s={
            "user": usage.ru_utime - usage_before.ru_utime,
            "sys": usage.ru_stime - usage_before.ru_stime,
        },
    )
    return rec


def result_line(rec: dict, trace: int) -> dict:
    from measure import END_TO_END, PER_LAYER

    units, values = (PER_LAYER, rec["per_layer"]) if trace else (END_TO_END, rec["end_to_end"])
    return {
        "correct": rec["failed"] == 0 and not rec["problems"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of the causality engine.")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run perfbench/selftest.py checks")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    # orphaned descendants (the JVM, Python workers) re-parent to us, so
    # reap_all can wait for them
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if args.selftest:
        from selftest import selftest

        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    try:
        rec = run_once(args.workload, args.seed, args.seconds, args.trace, SF)
    except Exception:  # noqa: BLE001 - report any failed run, exit non-zero
        traceback.print_exc()
        return 1
    print(json.dumps({"detail": rec["detail"], "problems": rec["problems"]}))
    print(json.dumps(result_line(rec, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
