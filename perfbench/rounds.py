"""One benchmark round in a fresh process, hence a fresh JVM.

Usage: ``python3 perfbench/rounds.py <spec.json>``; run.py writes the
spec and reads the result file it names. A round sets up (session
start, engine shipping, one untimed warm-up operation), runs more
untimed operations for ``warm_s`` seconds, then runs the workload's
operation back to back until its time share is spent,
checks the outputs, and in a traced round adds the per-layer
measurements. It samples the resident memory of the JVM and its Python
workers throughout, and stops the JVM and every worker before it
exits.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))  # the engine package


def proc_stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid,
    pgrp, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        fields = proc_stat(d) if d.isdigit() else None
        if fields:
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    fields = proc_stat(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has ended; SIGKILL what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers), read from /proc every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._done = threading.Event()

    def sample(self) -> None:
        total_kb = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_mb = max(self.peak_mb, total_kb / 1024.0)

    def run(self) -> None:
        while not self._done.wait(0.2):
            self.sample()

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def stop_spark(spark) -> None:
    """Stop the session and close the py4j gateway (and the callback
    server a streaming query starts), then end the JVM (it exits when
    its stdin closes) and wait for it and every Python worker to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(procs, timeout=20)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sampler = RssSampler()
    sampler.start()

    t0 = time.perf_counter()
    from engine import deploy, session

    from tracing import EVENT_LOG_CONF, Tracer, read_event_log, spark_layer
    from workloads import WORKLOADS

    conf = {
        "spark.sql.warehouse.dir": os.path.join(spec["work_dir"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if spec["traced"]:
        log_dir = os.path.join(spec["work_dir"], "eventlog")
        os.makedirs(log_dir)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = log_dir
    spark = session.get_spark("perfbench", cores=spec["cores"], extra_conf=conf)
    t1 = time.perf_counter()
    deploy.ensure_shipped(spark)
    t2 = time.perf_counter()
    wl = WORKLOADS[spec["workload"]](spec["scale"])
    wl.prepare(spark, spec["meta"], spec["work_dir"])
    tracer = Tracer(spark.sparkContext, spec["traced"])
    wl.run_op(spark, Tracer(None, False), -1)  # warm-up, untimed
    t3 = time.perf_counter()
    # the JIT keeps speeding operations up for several seconds after the
    # first one; more untimed operations keep that drift out of the timing
    warm_until = t3 + spec["warm_s"]
    while time.perf_counter() < warm_until:
        wl.run_op(spark, Tracer(None, False), -1)

    ops: list[dict] = []
    failed_ops = 0
    deadline = time.perf_counter() + spec["seconds"]
    k = 0
    while True:
        try:
            with tracer.span(f"op{k}"):
                ops.append(wl.run_op(spark, tracer, k))
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            failed_ops += 1
        k += 1
        if time.perf_counter() >= deadline:
            break
    checks = wl.check(spark, ops) if ops else []
    layers: dict[str, float] = {}
    if spec["traced"] and ops:
        layers, extra_checks = wl.layers(spark, tracer, ops)
        checks += extra_checks
    peak_mb = sampler.stop()
    stop_spark(spark)

    if spec["traced"] and ops:
        groups = read_event_log(log_dir)
        wl.from_log(groups, ops, layers)
        op_spans = [s for s in tracer.spans if s["name"][:2] == "op" and s["name"][2:].isdigit()]
        layers.update(spark_layer(groups, op_spans))
    result = {
        "setup_s": t3 - t0,
        "session_start_s": t1 - t0,
        "ship_s": t2 - t1,
        "peak_rss_mb": peak_mb,
        "ops": ops,
        "failed_ops": failed_ops,
        "checks": checks,
        "layers": layers,
        "spans": tracer.spans,
    }
    with open(spec["out"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
