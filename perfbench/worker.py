"""One benchmark run in a fresh process (started by run.py).

    python3 perfbench/worker.py --workload W --seed N --seconds S \
        --trace 0|1 --work DIR --result FILE --t0 MONOTONIC [--docs N]
        [--expected FILE]

Builds the Spark session, makes the workload's inputs, runs its
warm-up operations, then times operations until ``--seconds`` have
passed and at least the workload's ``timed_ops`` have run. Every
operation's outputs are checked; a mismatch or an exception counts as
a failed operation.
Writes one JSON document to ``--result``.

With ``--trace 1`` the event log is on and timed operations run in
groups of four: untraced, traced, traced, untraced. The per-layer
metrics are medians over the traced ones and ``trace.overhead_s`` is
the traced median wall minus the untraced one. End-to-end metrics
come from untraced runs only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and all its descendants: user +
    system of each live process plus cutime/cstime, which hold the
    CPU of children that have exited and been waited for (finished
    Python workers)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        fields = raw[raw.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += t
    return total / CLK_TCK


def spark_session(work: str, trace: bool):
    from intent_classifier_service_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # Spark 4 defaults to zstd, whose Python reader is absent
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{os.path.basename(work)}", extra_conf=conf)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the run's process started")
    ap.add_argument("--docs", type=int, default=None)
    ap.add_argument("--expected", default=None)
    args = ap.parse_args(argv)

    import workloads as wl

    expected = wl.load_expected(args.expected)
    spark = spark_session(args.work, bool(args.trace))
    try:
        w = wl.WORKLOADS[args.workload](spark, args.work, args.seed,
                                        args.docs, expected)
        # spans count the files that are new in the workload's watched dirs
        tracer = tr.Tracer(spark.sparkContext, w.watch_dirs)
        if args.trace:
            for owner, attr, name, files in w.spans:
                tracer.wrap(owner, attr, name, files)
        w.setup()
        ops: list[dict] = []

        def one_op(i: int, timed: bool, traced: bool) -> None:
            w.current = i
            w.before_op(i)
            index0 = len(tr.snapshot_files(w.index_dirs()))
            tracer.op, tracer.active = i, traced
            cpu0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            err = None
            try:
                with tracer.span("op", files=True):
                    result = w.run_op(i)
            except Exception:  # an operation failure is data, not a crash
                err = traceback.format_exc(limit=5)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - cpu0
            tracer.active = False
            index_files = len(tr.snapshot_files(w.index_dirs())) - index0
            counts, problems = None, [f"exception: {err}"] if err else []
            if not err:
                try:
                    counts, problems = w.check(i, result)
                except Exception:
                    problems = [f"check raised: {traceback.format_exc(limit=5)}"]
            rec = {"i": i, "timed": timed, "traced": traced, "wall_s": wall,
                   "cpu_s": cpu, "index_files": index_files,
                   "failed": bool(problems), "problems": problems, "counts": counts,
                   "stage_secs": {} if err else result.get("stage_secs", {})}
            ops.append(rec)
            w.cleanup_op(i)

        for i in range(w.warmup_ops):
            one_op(i, timed=False, traced=bool(args.trace))
        t_first = time.monotonic()
        setup_s = t_first - args.t0
        i = w.warmup_ops
        while True:
            timed = [o for o in ops if o["timed"]]
            enough = (time.monotonic() - t_first >= args.seconds
                      and len(timed) >= w.timed_ops)
            if args.trace:
                enough = enough and len(timed) % 4 == 0
            if enough:
                break
            # traced runs go untraced, traced, traced, untraced (ABBA), so
            # a warm-up trend that is linear cancels out of the overhead
            one_op(i, timed=True,
                   traced=bool(args.trace) and len(timed) % 4 in (1, 2))
            i += 1
    finally:
        spark.stop()

    timed = [o for o in ops if o["timed"]]
    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "docs_per_op": w.docs, "setup_s": setup_s, "ops": ops,
        "attempted": len(ops), "failed": sum(o["failed"] for o in ops),
    }
    if args.trace:
        traced = [o for o in timed if o["traced"]]
        untraced = [o for o in timed if not o["traced"]]
        groups = tr.read_event_log(os.path.join(args.work, "eventlog"))
        out["layers"] = tr.rollup(tracer.calls, groups,
                                  [o["i"] for o in traced],
                                  # every workload's spans: the others' read 0
                                  [s[2] for W in wl.WORKLOADS.values()
                                   for s in W.spans])
        out["traced_wall_s"] = statistics.median(o["wall_s"] for o in traced)
        out["untraced_wall_s"] = statistics.median(o["wall_s"] for o in untraced)
        out["index_files"] = statistics.median(o["index_files"] for o in traced)
        stages = {k for o in traced for k in o["stage_secs"]}
        out["stage_secs"] = {
            k: statistics.median(o["stage_secs"].get(k, 0.0) for o in traced)
            for k in sorted(stages)}
    else:
        wall = statistics.median(o["wall_s"] for o in timed)
        cpu = sum(o["cpu_s"] for o in timed)
        out["metrics"] = {
            "docs_per_s": w.docs / wall,
            "cpu_s_per_kdoc": cpu / (w.docs * len(timed) / 1000.0),
            "setup_s": setup_s,
        }
    with open(args.result, "w", encoding="utf-8") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
