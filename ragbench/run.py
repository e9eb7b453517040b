"""ragbench: end-to-end and per-layer benchmark of the RAG data pipeline.

Usage (from the repository root):

    python3 ragbench/run.py --workload corpus_prep --seed 1 --seconds 20 --trace 0

Each run generates its inputs from ``--seed``, starts Spark through the
program's ``session.get_spark`` on ``local[nproc]``, runs the workload's
set-up, warms up untimed on the full-size input, then measures units in
a closed loop for ``--seconds`` seconds, checking every unit's output.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (tracing off); with ``--trace 1`` they are the
per-layer ones (see layers.py), from a run whose measured units
alternate untraced and traced. A per-unit series and run-quality fields
(CPU steal, load, CPU probe, cores, JVM heap) go to
``ragbench/results/<workload>-seed<seed>-trace<t>.json``.

Scratch data lives under ``ragbench/.work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ragbench import layers  # noqa: E402
from ragbench.spans import PKG, EventLog, Tracer  # noqa: E402
from ragbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "2g"
TAIL_BEYOND = 10


# -- run quality ------------------------------------------------------------

def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_probe() -> float:
    """Seconds for a fixed single-core Python loop: a slow reading means
    a slow or contended CPU."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: tuple[int, ...]) -> float:
    """User + system CPU seconds consumed so far by these processes.
    Unlike wall time, this excludes time the host stole from the VM."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / CLK_TCK


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least
    TAIL_BEYOND samples beyond it, or None when there are too few."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND samples above
    return 100.0 * k / n, sorted(values)[k - 1]


# -- environment --------------------------------------------------------------

def configure(work: str, trace: bool) -> None:
    """Keep every file Spark writes inside ``work`` and fix the session
    shape: local[nproc], a bounded JVM heap, no console progress bar,
    and an event log only when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + events
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += [
        "--driver-java-options",
        # no hsperfdata file in /tmp: every file the JVM writes stays in work
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- the run ------------------------------------------------------------------

def run_unit(wl, spark, pids, tracer: Tracer | None, warmup: bool) -> dict:
    rec = {"warmup": warmup, "traced": tracer is not None, "t0": time.time()}
    cpu0 = cpu_seconds(pids)
    py0 = tracer.py4j_calls if tracer else 0
    if tracer:
        tracer.phase = "unit"
        tracer.install(spark)
    try:
        r = wl.unit(spark, tracer)
        rec.update(wall=r.wall, errors=r.errors, info=r.info)
    except Exception as e:  # a failing unit is counted, not fatal
        rec.update(wall=None, errors=[f"{type(e).__name__}: {e}"[:500]], info={})
    finally:
        if tracer:
            tracer.uninstall()
    rec["t1"] = time.time()
    rec["cpu"] = cpu_seconds(pids) - cpu0
    rec["py4j"] = (tracer.py4j_calls - py0) if tracer else 0
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true",
        help="small inputs and warm-up, for the self-check only",
    )
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    # fail before any work when the program is not in this checkout
    session = importlib.import_module(f"{PKG}.session")

    run_t0 = time.perf_counter()
    stat0, load0, probe0 = cpu_times(), os.getloadavg(), cpu_probe()
    work = os.path.join(
        ROOT, "ragbench", ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure(work, trace)
        wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), args.tiny)

        t = time.perf_counter()
        spark = session.get_spark(app_name="ragbench")
        start_s = time.perf_counter() - t
        jvm = spark.sparkContext._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        pids = (jvm_pid, os.getpid())
        heap_mb = jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        try:
            setup_s = start_s + wl.setup(spark)
            tracer = Tracer() if trace else None
            if trace and hasattr(wl, "drain"):
                tracer.phase = "ingest"
                tracer.install(spark)
                try:
                    wl.drain(spark, "index-traced")
                finally:
                    tracer.uninstall()

            units: list[dict] = []
            t = time.perf_counter()
            while (
                time.perf_counter() - t < wl.warmup_s
                or len(units) < wl.min_warmup_units
            ):
                units.append(run_unit(wl, spark, pids, None, warmup=True))
            warmup_s = time.perf_counter() - t

            t = time.perf_counter()
            i = 0
            while time.perf_counter() - t < args.seconds or i < (4 if trace else 2):
                traced = trace and i % 2 == 1
                units.append(run_unit(wl, spark, pids, tracer if traced else None, False))
                i += 1
            measure_s = time.perf_counter() - t

            peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
            if trace:
                wl_layers = layers.WORKLOAD_LAYERS[wl.name](wl, spark, tracer, units)
        finally:
            stop_spark(spark)

        measured = [u for u in units if not u["warmup"]]
        failed = sum(1 for u in measured if u["errors"])
        correct = not any(u["errors"] for u in units) and not any(
            d["errors"] for d in getattr(wl, "drains", [])
        )
        plain = [u["wall"] for u in measured if not u["traced"] and u["wall"] is not None]
        if not plain:
            raise RuntimeError("no measured unit completed")
        op_p50 = statistics.median(plain)
        op_cpu = statistics.median(
            u["cpu"] for u in measured if not u["traced"] and u["wall"] is not None
        )
        op_tail = tail(plain)

        if trace:
            log = EventLog.read(os.path.join(work, "events"))
            values = layers.per_layer(tracer, units, log, start_s, warmup_s)
            values.update(wl_layers)
            metrics = {
                k: {"value": values[k], "unit": unit}
                for k, (unit, _) in layers.PER_LAYER.items()
            }
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": op_p50, "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
        stat1 = cpu_times()
        d = [b - a for a, b in zip(stat0, stat1)]
        half = len(plain) // 2
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "sizes": wl.sizes(),
            "setup": {"session_start_s": start_s, "setup_s": setup_s},
            "warmup_s": warmup_s,
            "measure_s": measure_s,
            "run_s": time.perf_counter() - run_t0,
            "op_p50_s": op_p50,
            "op_cpu_s": op_cpu,
            "op_tail": (
                {"percentile": op_tail[0], "value": op_tail[1], "samples": len(plain)}
                if op_tail else {"percentile": None, "samples": len(plain)}
            ),
            "halves_p50_s": [
                statistics.median(plain[:half]) if half else None,
                statistics.median(plain[half:]),
            ],
            "units": [
                {k: u.get(k) for k in ("wall", "cpu", "warmup", "traced", "py4j", "errors", "info")}
                for u in units
            ],
            "drains": [
                {k: v for k, v in dr.items() if k != "index"}
                for dr in getattr(wl, "drains", [])
            ],
            "quality": {
                "steal_pct": 100.0 * d[7] / (sum(d) or 1),
                "loadavg_start": list(load0),
                "loadavg_end": list(os.getloadavg()),
                "cpu_probe_s": [probe0, cpu_probe()],
                "nproc": len(os.sched_getaffinity(0)),
                "jvm_heap_mb": heap_mb,
                "peak_rss_mb": peak_rss_mb,
            },
            "metrics": metrics,
        }
        out_dir = os.path.join(ROOT, "ragbench", "results")
        os.makedirs(out_dir, exist_ok=True)
        with open(
            os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(measured),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
