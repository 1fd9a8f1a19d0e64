"""Benchmark entry point.

    python3 perfbench/run.py --workload validate_gate --seed 1 \
        --seconds 10 --trace 0

Runs one workload in a fresh worker process (perfbench/worker.py) from
the root of a source checkout, checks every operation's outputs, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` its per-layer ones. The line before it is a JSON context
stamp (load average, steal %, CPU MHz, pinned settings, operation
walls); stamps never drop a run.

All scratch data lives under ``.perfbench_run/`` in the checkout; the
run's full record is kept in ``.perfbench_run/results/`` (or
``--result``) for perfbench/compare.py. Exits non-zero without a
result line when the program's sources are missing or the worker fails.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # the run's process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("intent_classifier_service_spark/__init__.py",
            "jobs/validate.py", "jobs/prepare_corpus.py")
# a run must end within 180 s; the kill and the deletion of the run's
# scratch after a timeout take up to ~25 s. Traced runs, the longest,
# took 35-65 s, and 146 s once when the host ran ~2x slower.
WORKER_TIMEOUT_S = 155
DRIVER_MEM = "3g"


def _proc_stat() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line."""
    with open("/proc/stat", encoding="ascii") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _cpu_mhz() -> float:
    with open("/proc/cpuinfo", encoding="ascii") as f:
        mhz = [float(line.split(":")[1]) for line in f
               if line.startswith("cpu MHz")]
    return sum(mhz) / len(mhz) if mhz else 0.0


def host_stamp() -> dict:
    return {"loadavg": os.getloadavg(), "proc_stat": _proc_stat(),
            "cpu_mhz": _cpu_mhz()}


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs (zombies, which
    only wait for their parent to reap them, do not count)."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        state, _ppid, pgrp = raw[raw.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Kill every process left in the worker's process group (the JVM
    and Python workers outlive the worker by the JVM's shutdown, which
    no metric includes) and wait until all have ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def layer_value(name: str, rec: dict) -> float:
    """A per-layer metric of BENCHMARK.json from the worker's record."""
    layers = rec["layers"]
    totals = {"spark.jobs": "jobs", "spark.tasks": "tasks",
              "spark.task_s": "task_s", "spark.shuffle_bytes": "shuffle_bytes",
              "spark.spill_bytes": "spill_bytes", "python.py_bytes": "py_bytes",
              "python.py_boot_s": "py_boot_s", "output.files": "files",
              "output.bytes": "bytes"}
    if name in totals:
        return layers["op"][totals[name]]
    if name == "trace.op_wall_s":
        return rec["traced_wall_s"]
    if name == "index.files":
        return rec["index_files"]
    if name == "trace.overhead_s":
        return rec["traced_wall_s"] - rec["untraced_wall_s"]
    stage = "jobs.prepare_corpus.stage."
    if name.startswith(stage):
        return rec["stage_secs"].get(name[len(stage):-len("_s")], 0.0)
    span, quantity = name.rsplit(".", 1)
    return layers[span][quantity]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="input size override (counts are then checked "
                         "by invariants only)")
    ap.add_argument("--expected", default=None,
                    help="pinned-count file replacing perfbench/expected.json")
    ap.add_argument("--result", default=None,
                    help="where to write the run's full record")
    args = ap.parse_args()

    missing = [p for p in REQUIRED + ("BENCHMARK.json",)
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    result_path = args.result or os.path.join(
        base, "results",
        f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    cpus = len(os.sched_getaffinity(0))
    pins = {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "PYTHONPATH": ROOT, "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": os.path.join(work, "tmp")}
    env = {**os.environ, **pins}
    env.pop("OMP_NUM_THREADS", None)
    # HotSpot writes /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    worker_out = os.path.join(work, "worker.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", worker_out, "--t0", repr(T0)]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    if args.expected:
        cmd += ["--expected", os.path.abspath(args.expected)]

    before = host_stamp()
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        stop_group(proc.pid)
        proc.wait()
    after = host_stamp()

    if code != 0 or not os.path.isfile(worker_out):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}"
              f"\n{tail}", file=sys.stderr)
        return 1
    with open(worker_out, encoding="utf-8") as f:
        rec = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    steal = after["proc_stat"][0] - before["proc_stat"][0]
    total = after["proc_stat"][1] - before["proc_stat"][1]
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "loadavg_start": before["loadavg"], "loadavg_end": after["loadavg"],
        "steal_pct": 100.0 * steal / total if total else 0.0,
        "cpu_mhz": (before["cpu_mhz"] + after["cpu_mhz"]) / 2,
        "pins": {k: pins[k] for k in ("SPARK_GRAFT_CPUS",
                                      "SPARK_GRAFT_DRIVER_MEM",
                                      "SPARK_LOCAL_DIRS", "PYTHONPATH")},
        "op_walls_s": [round(o["wall_s"], 3) for o in rec["ops"]],
        "timed": [o["timed"] for o in rec["ops"]],
        "problems": [p for o in rec["ops"] for p in o["problems"]][:5],
    }
    if args.trace:
        metrics = {m["name"]: {"value": layer_value(m["name"], rec),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": rec["metrics"][m["name"]],
                               "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    line = {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}
    with open(result_path, "w", encoding="utf-8") as f:
        json.dump({**line, "context": context, "record": rec}, f)
    print(json.dumps({"context": context}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
