"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload graph_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(untimed), computes the reference answers (untimed), starts a Spark session
and ingests the inputs (``setup_s``), then makes passes over the workload's
calls until ``--seconds`` have been measured (at least one pass), checking
every result. The last stdout line is the result JSON. ``--trace 1`` turns on
Spark's event log and reports the per-layer metrics instead of the end-to-end
ones, and writes the spans to ``.bench_work/traces/``. A wrong result or a
failed call makes the exit code 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
CALL_TIMEOUT_S = 90.0

BASE = ("wall_s", "driver_s", "jobs", "jobs_outside_group", "task_cpu_s", "shuffle_bytes")
ITER = ("supersteps", "superstep_p50_s")
UDF = ("python_s", "arrow_in_bytes", "arrow_out_bytes")
# per-layer measures of every call of every workload; a workload reports 0
# for the calls it does not make
LAYERS = {
    "session.get_spark": ("wall_s",),
    "builder.build_graph": BASE,
    "kernels.pagerank": BASE + ITER,
    "kernels.cc_two_phase": BASE + ITER,
    "kernels.cc_two_phase_forced": BASE + ITER,
    "kernels.connected_components": BASE + ITER,
    "kernels.label_propagation": BASE,
    "kernels.bfs": BASE + ITER,
    "kernels.triangle_count": BASE,
    "extract.extract_text": BASE + UDF,
    "edgelist.write_edges": BASE + ("bytes_written",),
    "edgelist.read_edges": BASE,
    "checkpoints.pagerank_run": BASE + ITER + ("bytes_written",),
    "checkpoints.pagerank_resume": BASE + ITER + ("bytes_written",),
    "dedup.near_dup_pipeline": BASE + ("candidate_pairs", "dup_pairs"),
    "similarity.cosine_topk": BASE + UDF,
    "similarity.bucketed_ann": BASE + UDF,
}


def unit(measure: str) -> str:
    if measure.endswith("_s"):
        return "s"
    return "bytes" if measure.endswith("_bytes") else "count"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def noise_stamp() -> dict:
    """Machine state to read the run's figures against: cores, load, and CPU
    time the hypervisor took from this machine (steal) so far."""
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    return {"nproc": os.cpu_count(), "loadavg": load, "steal_s": steal, "t": time.time()}


def become_subreaper() -> None:
    """Have processes orphaned below this one (Spark's Python worker daemon
    outliving its JVM) re-parented here, so stop_descendants can reap them."""
    try:
        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Pids of every process below this one that has not been reaped, from
    /proc. Zombies count: a JVM whose main thread has exited reads "Z" while
    its other threads still run, and it cannot be reaped until they end."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Stop every process this run started and wait until each has ended:
    the JVM ends on EOF on its stdin (how PySpark shuts its gateway); what is
    left after 20 s gets SIGTERM, and after 10 s more SIGKILL."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None and proc.stdin:
        proc.stdin.close()
    deadline = time.time() + 20.0
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10.0
        while time.time() < deadline:
            reap()
            if not descendants():
                return
            time.sleep(0.1)


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


class Runner:
    """Times the calls of one workload and checks their results."""

    def __init__(self, spark, tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.n = 0

    def group(self, name: str) -> str:
        """Set and return a fresh job group for the next call."""
        self.n += 1
        group = f"perfbench-{self.n}-{name}"
        self.sc.setJobGroup(group, name, interruptOnCancel=True)
        return group

    def call(self, call, pass_no: int):
        """Run one call in its own job group; cancel it past CALL_TIMEOUT_S.
        Returns the call's span, or None if it raised or its result is wrong."""
        self.attempted += 1
        group = self.group(call.name)
        timer = threading.Timer(CALL_TIMEOUT_S, self.sc.cancelJobGroup, (group,))
        timer.start()
        try:
            with self.tracer.span(call.name, group=group, **{"pass": pass_no}) as span:
                result = call.run()
        except Exception:  # noqa: BLE001 - a failed call is counted and reported
            self.failures.append(f"{call.name}: raised\n{traceback.format_exc()}")
            return None
        finally:
            timer.cancel()
            self.sc.setJobGroup("perfbench-check", "check")
        try:
            err = call.check(result)
        except Exception:  # noqa: BLE001
            err = f"check raised\n{traceback.format_exc()}"
        if err:
            self.failures.append(f"{call.name}: {err}")
            return None
        span.attrs["steps"] = call.steps(span) if call.steps else []
        span.attrs |= call.counts or {}
        return span


def main() -> int:
    become_subreaper()
    # a SIGTERM unwinds through the finally below instead of killing the
    # process with its JVM still running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run()
    finally:
        if "pyspark" in sys.modules:
            stop_descendants()


def run() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    # the engine under test: outside a checkout this raises before any work
    from pasgal_spark.session import get_spark
    from spans import Tracer, attach_jobs, median, read_event_log, write_jsonl

    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    stamp_start = noise_stamp()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")

    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    info |= wl.prepare(os.path.join(WORK, "data", f"{wl.scale}x-seed{args.seed}"), args.seed)
    info["prepare_s"] = round(time.time() - stamp_start["t"], 3)

    tracer = Tracer()
    t0 = time.time()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{wl.name}",
            master=workloads.MASTER,
            shuffle_partitions=workloads.SHUFFLE_PARTITIONS,
            extra_conf=session_conf(run_dir, bool(args.trace)),
        )
    runner = Runner(spark, tracer)
    try:
        wl.setup(spark, tracer, runner.group)
        setup_s = time.time() - t0
        info |= wl.references()
        calls = [
            c
            for c in wl.calls(tracer, os.path.join(run_dir, "calls"))
            if args.trace or not c.traced_only
        ]
        gated = {c.name for c in calls if not c.traced_only}

        passes: list[dict] = []
        t_measure, last_pass_s = time.time(), 0.0
        # whole passes; another one only if it fits in --seconds
        while not passes or time.time() - t_measure + last_pass_s <= args.seconds:
            t_pass = time.time()
            spans = {}
            with tracer.span("pass", index=len(passes)):
                for call in calls:
                    spans[call.name] = runner.call(call, len(passes))
            passes.append(spans)
            last_pass_s = time.time() - t_pass
            if runner.failures:
                break
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        done = [p for p in passes if None not in p.values()]
        walls = [sum(s.end - s.start for n, s in p.items() if n in gated) for p in done]
    finally:
        spark.stop()

    info |= {
        "calls_s": [{n: s and round(s.end - s.start, 3) for n, s in p.items()} for p in passes],
        "supersteps_s": [
            {n: [round(t, 3) for t in s.attrs["steps"]] for n, s in p.items() if s and s.attrs["steps"]}
            for p in passes
        ],
        "noise": [stamp_start, noise_stamp()],
    }
    ok = not runner.failures
    if not ok:
        for f in runner.failures:
            print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        call_spans = [s for s in tracer.spans if s.attrs.get("group")]
        attach_jobs(tracer, call_spans, read_event_log(os.path.join(run_dir, "events")))
        by_name: dict[str, list] = {}
        for s in call_spans:
            steps = s.attrs.get("steps", [])
            s.attrs |= {
                "wall_s": s.end - s.start,
                "supersteps": len(steps),
                "superstep_p50_s": median(steps),
            }
            by_name.setdefault(s.name, []).append(s.attrs)
        session = next(s for s in tracer.spans if s.name == "session.get_spark")
        by_name["session.get_spark"] = [{"wall_s": session.end - session.start}]
        metrics = {
            f"{name}.{m}": {
                "value": median([a.get(m, 0) for a in by_name.get(name, [])]),
                "unit": unit(m),
            }
            for name, measures in LAYERS.items()
            for m in measures
        }
        metrics["trace.wall_s"] = {"value": median(walls), "unit": "s"}
        metrics["session.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        out = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.jsonl")
        write_jsonl(out, tracer, {"info": info, "metrics": metrics})
        info["spans"] = os.path.relpath(out, ROOT)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": median(walls), "unit": "s"},
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": runner.attempted,
                "failed": len(runner.failures),
                "metrics": metrics,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
