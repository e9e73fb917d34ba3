"""Seeded benchmark of timeseriesflattener_spark: one workload per run.

    python3 perfbench/run.py --workload flatten_wide --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one JVM on ``local[nproc]``,
one client in a closed loop for ``--seconds``; then the outputs are
checked against independent oracles. The last stdout line is the result
JSON (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it is the run record (host probe, set-up parts, whole-run wall).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with
Spark's event log on and every public call under its own job group, and
reports the per-layer metrics plus the tracing overhead against the
untraced runs made earlier in the same checkout. See README.md.
"""

from __future__ import annotations

import time

RUN_T0 = time.perf_counter()
RUN_T0_WALL = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402

CPUS = len(os.sched_getaffinity(0))


# ------------------------------------------------------------ host probe

_SPIN = "import time\nt=time.perf_counter()\nx=0\nfor i in range(300000): x+=i*i\nprint(time.perf_counter()-t)"


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def host_probe() -> dict:
    """Single-process spin time, slowdown of nproc concurrent spins, load1, steal."""
    stat0 = _cpu_fields()
    spin = [sys.executable, "-c", _SPIN]
    single = min(float(subprocess.run(spin, capture_output=True, text=True, check=True).stdout) for _ in range(2))
    procs = [subprocess.Popen(spin, stdout=subprocess.PIPE, text=True) for _ in range(CPUS)]
    conc = [float(p.communicate()[0]) for p in procs]
    stat1 = _cpu_fields()
    delta = [b - a for a, b in zip(stat0, stat1)]
    return {
        "spin_s": round(single, 5),
        "concurrent_slowdown": round(statistics.median(conc) / single, 3),
        "load1": os.getloadavg()[0],
        "steal_frac": round(delta[7] / max(1, sum(delta)), 4) if len(delta) > 7 else 0.0,
        "cpus": CPUS,
    }


# ------------------------------------------------- JVM process-tree sampler

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


class ProcTree:
    """RSS and CPU of the driver JVM plus its Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def rss(self) -> int:
        total = 0
        for pid in _tree(self.jvm_pid):
            statm = _read(f"/proc/{pid}/statm")
            if statm:
                total += int(statm.split()[1]) * _PAGE
        return total

    def cpu_s(self) -> float:
        """CPU seconds of the JVM tree (reaped children included) and this process."""
        ticks = 0
        for pid in _tree(self.jvm_pid):
            stat = _read(f"/proc/{pid}/stat")
            if stat:
                f = stat.rsplit(")", 1)[1].split()
                ticks += sum(int(v) for v in f[11:15])
        own = os.times()
        return ticks / _TICK + own.user + own.system

    def _sample(self) -> None:
        while not self._stop.wait(0.2):
            self.peak_rss = max(self.peak_rss, self.rss())

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------- session

def start_session(event_log: str | None):
    from timeseriesflattener_spark import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    proc.wait(timeout=60)


# ------------------------------------------------------------------ loop

def measure(wl, seconds: float, rng) -> dict:
    """Closed loop, one client: run ``wl``'s op cycles back to back, at
    least one, until ``seconds`` have passed, finishing the cycle in progress."""
    lat: dict[str, list[float]] = {}
    units: dict[str, list[float]] = {}
    attempted = failed = cycles = 0
    deadline = time.perf_counter() + seconds
    while True:
        for kind, fn in wl.cycle(rng):
            attempted += 1
            t0 = time.perf_counter()
            try:
                u = fn()
            except Exception:  # one failed op is counted, the loop goes on
                traceback.print_exc()
                failed += 1
                continue
            lat.setdefault(kind, []).append(time.perf_counter() - t0)
            units.setdefault(kind, []).append(u)
        cycles += 1
        if time.perf_counter() >= deadline:
            break
    return {"lat": lat, "units": units, "attempted": attempted, "failed": failed, "cycles": cycles}


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def session(W, inputs: str, state_root: str, args, event_log: str | None, repeats: int) -> tuple:
    """One SparkSession: ``repeats`` state builds, a warm-up, the timed
    loop, then the oracle checks. Returns (spark, spans, result)."""
    import numpy as np

    t0 = time.time()
    spark = start_session(event_log)
    t1 = time.time()
    spans = tracing.Spans(spark.sparkContext if event_log else None)
    spans.add("session.get_spark", t0, t1)
    tree = ProcTree(spark.sparkContext._gateway.proc.pid)
    try:
        builds = []
        for k in range(repeats):
            wl = W(inputs, os.path.join(state_root, f"state{k}"), args.seed)
            tb = time.perf_counter()
            wl.setup(spark, spans)
            builds.append(time.perf_counter() - tb)
        tw = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - tw
        cpu0 = tree.cpu_s()
        res = measure(wl, args.seconds, np.random.default_rng([args.seed, 99]))
        res.update(cpu_s=tree.cpu_s() - cpu0, builds=builds, session_ready=t1, warm_s=warm_s)
        res["peak_rss_mb"] = max(tree.peak_rss, tree.rss()) / tracing.MB
        tc = time.perf_counter()
        res["errors"] = wl.check(spark)
        res["check_s"] = time.perf_counter() - tc
        if event_log:
            res["extra"] = wl.layer_extras(spark)
    finally:
        tree.close()
    return spark, spans, res


# ------------------------------------------------------------------- run

def run(args) -> tuple[dict, dict]:
    import gen
    import workloads  # imports the library: fails fast outside a checkout

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)

    t = time.perf_counter()
    probe = host_probe()
    probe_s = time.perf_counter() - t
    t = time.perf_counter()
    inputs = gen.ensure_inputs(WORK, args.workload, args.seed)
    gen_s = time.perf_counter() - t
    W = workloads.WORKLOADS[args.workload]
    records = os.path.join(WORK, f"untraced-{args.workload}.jsonl")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": probe}

    if not args.trace:
        spark, _, res = session(W, inputs, run_dir, args, None, W.setup_repeats)
        stop_jvm(spark)
        # set-up runs from this run's own start to the session being ready,
        # less the host probe and input generation, plus the median state build
        boot = res["session_ready"] - RUN_T0_WALL - probe_s - gen_s
        metrics = end_to_end(res, boot + statistics.median(res["builds"]))
        record.update(boot_s=boot, builds_s=res["builds"])
        with open(records, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "op_p50_s": metrics["op_p50_s"][0]}) + "\n")
    else:
        log_dir = os.path.join(run_dir, "eventlog")
        spark, spans, res = session(W, inputs, run_dir, args, log_dir, 1)
        stop_jvm(spark)
        log = tracing.EventLog(log_dir)
        metrics = {**tracing.span_metrics(log, spans.records), **tracing.ratio_metrics(log, spans.records)}
        metrics.update(res["extra"])
        # overhead against the untraced runs of this workload in this
        # checkout (each a fresh JVM, like this one); 0 until one exists
        untraced = []
        if os.path.isfile(records):
            with open(records) as fh:
                untraced = [json.loads(line)["op_p50_s"] for line in fh]
        record["untraced_runs"] = len(untraced)
        if untraced:
            metrics["trace.overhead_frac"] = p50(res["lat"]["op"]) / p50(untraced) - 1
        metrics = {k: metrics.get(k, 0.0) for k in tracing.PER_LAYER}

    shutil.rmtree(run_dir, ignore_errors=True)
    record.update(
        gen_s=gen_s,
        warm_s=res["warm_s"],
        cycles=res["cycles"],
        lat={k: [round(x, 3) for x in v] for k, v in res["lat"].items()},
        failed_ops_frac=res["failed"] / res["attempted"],
        check_s=res["check_s"],
        errors=res["errors"][:10],
    )
    result = {
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return record, result


def end_to_end(res: dict, setup_s: float) -> dict:
    lat, units = res["lat"], res["units"]
    op_p50 = p50(lat["op"])
    # one cycle of the op mix, composed from each kind's median latency
    cycle_s = sum(len(v) / res["cycles"] * p50(v) for v in lat.values())
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (op_p50, "s"),
        "short_op_p50_s": (p50(lat["short"]), "s"),
        "cycle_s": (cycle_s, "s"),
        "work_per_s": (p50(units["op"]) / op_p50, "1/s"),
        "cpu_s_per_op": (res["cpu_s"] / sum(len(v) for v in lat.values()), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["flatten_wide", "transcript_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    record, result = run(args)
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    else:
        result["metrics"] = {k: {"value": v, "unit": tracing.unit(k)} for k, v in result["metrics"].items()}
    record["whole_run_s"] = time.perf_counter() - RUN_T0
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
