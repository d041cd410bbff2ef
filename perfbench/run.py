"""Seeded end-to-end benchmark of the catalogue and corpus pipelines.

    python3 perfbench/run.py --workload catalog_full --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` before
any timer starts (cached under ``.perfbench_work/``); the engine sees only
files. One closed-loop client on ``local[<cores>]``. Every pass of the
workload runs in a fresh process, the way each run of the console commands
starts cold; passes repeat while less than ``--seconds`` of timed work has
run, and the run reports medians over passes.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from the layer wrappers and Spark's event log (see layers.py). The
last stdout line is one JSON object; the lines before it print every
metric by name and unit, the output checks and the output digest.
See NOTES.md for the workloads, the metrics and the known findings.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers  # noqa: E402

# Every set-up is a new process that launches a JVM (5-15 s on a 4-core
# VM). setup_s is the median over the run's set-ups: at most SETUPS, and a
# set-up without a pass is made only while the run has used less than
# SETUP_BUDGET_S, so that a run stays near a minute on a slow machine.
SETUPS = 3
SETUP_BUDGET_S = 40.0
END_TO_END = (
    ("records_per_s", "1/s"), ("setup_s", "s"), ("peak_rss_mb", "MB"),
)


class MemSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the pass
    process, its driver JVM, the Python workers and any short-lived child
    they fork), sampled from /proc every 0.2 s. Each process counts its
    proportional set size, so pages a forked child shares with its parent
    count once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    @staticmethod
    def tree_bytes() -> int:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._done.wait(0.2):
            self.peak = max(self.peak, self.tree_bytes())

    def stop(self):
        self._done.set()
        self.join(timeout=5)


def stop_jvm() -> None:
    """Shut down the (stopped) session's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat samples: host contention, reported beside the timings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def run_pass(wl, out, spark, tracer, step_times) -> tuple[float, bool]:
    """One timed pass of the workload's steps; stops at the first failed
    step. Returns (seconds, all steps succeeded)."""
    t0 = time.perf_counter()
    for layer, label, fn in wl.steps(out, spark):
        ts = time.perf_counter()
        try:
            if tracer:
                with tracer.group(layer):
                    fn()
                tracer.sample_session(spark)
            else:
                fn()
        except Exception as exc:  # a failed step is a failed operation
            print(f"step failed: {label}: {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            return time.perf_counter() - t0, False
        finally:
            step_times.append((label, time.perf_counter() - ts))
    return time.perf_counter() - t0, True


def iteration(args, wl, work: str) -> dict:
    """One set-up (process start to a session that answered a first query)
    and, unless ``--iteration setup``, one pass with its checks."""
    from recordmanager_spark import session
    from workloads import Checks, fresh_dir

    conf = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.environ["TMPDIR"]}
    tracer = None
    log_dir = os.path.join(work, "run", "eventlog")
    if args.iteration == "traced":
        tracer = layers.Tracer()
        tracer.install()
        conf.update(layers.event_log_conf(fresh_dir(log_dir)))
    spark = session.get_spark("perfbench", extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    result = {"setup_s": time.perf_counter() - PROCESS_START}
    try:
        if args.iteration != "setup":
            out = fresh_dir(args.out)
            step_times: list = []
            cpu0 = cpu_times()
            pass_s, ok = run_pass(wl, out, spark, tracer, step_times)
            result.update(pass_s=pass_s, ok=ok, steps=step_times,
                          steal=cpu_steal_share(cpu0, cpu_times()))
            if ok:
                checks = Checks()
                try:
                    result["digest"] = wl.check(out, checks)
                except Exception as exc:  # unreadable output fails the check
                    print(f"check raised: {type(exc).__name__}: {exc}", file=sys.stderr)
                    checks.check("outputs readable", False)
                result["checks"] = checks.results
    finally:
        if tracer:
            tracer.uninstall()
        spark.stop()
        stop_jvm()
    if tracer:
        result["layers"] = layers.fold_event_log(log_dir, tracer)
    return result


def spawn(args, mode: str, out: str) -> dict | None:
    """Run one iteration in a child process while sampling the memory of
    the process tree; None when the child fails."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--iteration", mode, "--out", out]
    sampler = MemSampler()
    sampler.start()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    sampler.stop()
    lines = p.stdout.strip().splitlines()
    for line in lines[:-1]:  # the engine's console output
        print(line, file=sys.stderr)
    if p.returncode != 0 or not lines:
        print(f"{mode} iteration exited {p.returncode}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    result["peak"] = sampler.peak
    return result


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--iteration", choices=("setup", "plain", "traced"),
                   help=argparse.SUPPRESS)
    p.add_argument("--out", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "recordmanager_spark", "cli.py")):
        print("run from a checkout of the repository: recordmanager_spark/ "
              "not found in the working directory", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Checks, fresh_dir

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The engine's default driver heap is 48g. On a 16 GB machine that let
    # the JVM grow to 14 GB on catalog_full, so the heap is capped at a
    # quarter of physical memory through the engine's own override.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = (
        f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') // 4 // 2**20}m"
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)

    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    wl.prepare(work, args.seed)
    gen_s = time.perf_counter() - t
    if args.iteration:
        print(json.dumps(iteration(args, wl, work)))
        return 0

    # Each iteration is a child process with its own JVM: a pass is cold,
    # so the median over passes does not depend on how many fit, and no
    # process-global state of the engine outlives its session. Untraced:
    # passes while less than --seconds of timed work has run, then
    # set-up-only iterations (see SETUPS); the median pass time is recorded
    # in the work directory. Traced: one traced pass; the tracing overhead
    # is its time minus the median recorded untraced pass time of the
    # workload, and with none recorded a plain pass runs first.
    run_dir = fresh_dir(os.path.join(work, "run"))
    record = os.path.join(work, f"untraced-{wl.name}.jsonl")
    recorded = []
    if args.trace and os.path.exists(record):
        with open(record) as fh:
            recorded = [json.loads(line)["pass_s"] for line in fh]
    checks = Checks()
    setups, passes, peaks, steal, digests, step_times = [], [], [], [], [], []
    failed_steps = 0
    values = None

    def iterations():
        if args.trace:
            yield from ("traced",) if recorded else ("plain", "traced")
            return
        while sum(passes) < args.seconds:
            yield "plain"
        while (len(setups) < SETUPS
               and time.perf_counter() - PROCESS_START < SETUP_BUDGET_S):
            yield "setup"

    for mode in iterations():
        r = spawn(args, mode, os.path.join(run_dir, f"pass{len(passes)}"))
        if r is None:
            failed_steps += 1
            break
        setups.append(r["setup_s"])
        if mode == "setup":
            continue
        passes.append(r["pass_s"])
        peaks.append(r["peak"])
        steal.append(r["steal"])
        step_times += r["steps"]
        values = r.get("layers", values)
        if not r["ok"]:
            failed_steps += 1
            break
        checks.results += [tuple(c) for c in r["checks"]]
        if "digest" in r:
            digests.append(r["digest"])

    attempted = max(len(step_times) + len(checks.results), 1)
    failed = failed_steps + len(checks.failed)
    if args.trace:
        names = layers.metric_names()
        if values is None:  # a failed iteration leaves the traced values at 0
            values = {n: 0.0 for n, _ in names}
        plain = recorded or passes[:-1]
        traced = failed == 0 and bool(plain)
        values["trace.pass_s"] = passes[-1] if traced else 0.0
        values["trace.overhead_s"] = (
            passes[-1] - statistics.median(plain) if traced else 0.0
        )
    else:
        names = END_TO_END
        values = {
            "records_per_s": statistics.median(wl.units / p for p in passes) if passes else 0.0,
            "setup_s": statistics.median(setups) if setups else 0.0,
            "peak_rss_mb": statistics.median(peaks) / 2**20 if peaks else 0.0,
        }
        if passes and failed == 0:
            with open(record, "a") as fh:
                fh.write(json.dumps({"seed": args.seed, "pass_s": statistics.median(passes)}) + "\n")

    print(f"workload {wl.name} seed {args.seed}: {len(passes)} pass(es) of "
          f"{wl.units} input units, pass_s {[round(p, 3) for p in passes]}, "
          f"peak MB {[round(p / 2**20) for p in peaks]}, "
          f"inputs generated in {gen_s:.2f} s (untimed), set-ups "
          f"{[round(s, 3) for s in setups]}, cpu steal during passes "
          f"{[f'{x:.1%}' for x in steal]}")
    for label, s in step_times:
        print(f"step {label} {s:.3f} s")
    for name, ok in checks.results:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}")
    print(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted} operations)")
    for d in digests:
        print(f"digest {d}")
    if args.trace:
        print(f"unattributed cpu_s {values.get('_unattributed_cpu_s', 0.0):.3f}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in names}
    for n, m in metrics.items():
        print(f"metric {n} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
