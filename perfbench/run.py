"""Benchmark of the tiling engine at local[N], N = min(2, cores).

    python3 perfbench/run.py --workload focal_dense --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
before any timing. Each round runs in a fresh process and JVM
(rounds.py):

- ``--trace 0``: one untraced round measuring for ``--seconds``;
  prints the end-to-end metrics.
- ``--trace 1``: one untraced round, then one traced round (job groups
  and a Spark event log), each measuring for a quarter of ``--seconds``;
  prints the per-layer metrics, including ``trace.overhead_s`` (traced
  minus untraced median operation time).

The metric names and units are those of BENCHMARK.json. A table of
every metric, with sample counts and each output check, goes to
standard error; the last line of standard output is the JSON result.
Everything a run writes stays under ``.perfbench_work/`` in the
repository root; a traced run leaves its per-layer table and spans
there as ``trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

from rounds import proc_stat, wait_gone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run must end within 180 s
MIN_FREE_BYTES = 2 << 30
# untimed operations after set-up, in every round, before the timing starts
WARM_S = 6.0
# local[N]: on a host of a few shared cores, N = 2 leaves a core each to
# the JVM's own threads and the Python driver; local[4] on 4 cores ran
# focal_dense no faster and spread its runs about twice as wide
MAX_CORES = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_memory() -> str:
    """A quarter of MemTotal, between 1 and 4 GiB: the host is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, kb // 4096))}m"


def host_ref_ms() -> float:
    """Median wall time of a fixed NumPy workload that uses no engine
    code: how fast the host is at the moment, so that runs made in a
    slow period of a shared host can be told apart."""
    rng = np.random.default_rng(0)
    a = rng.random((1000, 1000))
    idx = rng.integers(0, 1000, 1000)
    walls = []
    for _ in range(15):
        t = time.perf_counter()
        np.cumsum(a, axis=1)[:, idx].sum()
        walls.append(time.perf_counter() - t)
    return 1e3 * statistics.median(walls)


def _pgroup_members(pgid: int) -> list[int]:
    members = []
    for d in os.listdir("/proc"):
        fields = proc_stat(d) if d.isdigit() else None
        if fields and int(fields[2]) == pgid:
            members.append(int(d))
    return members


def run_round(spec: dict, env: dict, timeout: float) -> dict:
    spec_path = spec["out"] + ".spec.json"
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "rounds.py"), spec_path],
        stdout=sys.stderr, env=env, cwd=ROOT, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    finally:
        # anything the round left in its process group ends here
        leftovers = _pgroup_members(proc.pid)
        for p in leftovers:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(leftovers, timeout=10)
    if rc != 0 or not os.path.exists(spec["out"]):
        raise RuntimeError(f"round exited with {rc}")
    with open(spec["out"]) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the smoke test")
    args = ap.parse_args()

    t_start = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, "engine", "session.py")):
        fail(f"no engine package under {ROOT}: nothing to benchmark")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.scale)

    base = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if shutil.disk_usage(run_dir).free < MIN_FREE_BYTES:
            fail(f"less than {MIN_FREE_BYTES >> 30} GiB free under {base}")
        result, report = measure(args, wl, bench, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        with open(os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps(result))


def measure(args, wl, bench: dict, run_dir: str, t_start: float) -> tuple[dict, dict]:
    tmp = os.path.join(run_dir, "tmp")
    in_dir = os.path.join(run_dir, "inputs")
    for d in (tmp, in_dir):
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_DRIVER_MEM=driver_memory(),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    cores = min(MAX_CORES, os.cpu_count() or 1)

    t = time.perf_counter()
    meta = wl.make_inputs(args.seed, in_dir, bool(args.trace))
    gen_s = time.perf_counter() - t
    ref_before = host_ref_ms()

    # a traced run pays two fresh-JVM set-ups and the layer measurements;
    # quarter rounds keep it inside the run time limit
    plan = [(False, args.seconds)] if not args.trace else [(False, args.seconds / 4),
                                                          (True, args.seconds / 4)]
    rounds = []
    for i, (traced, seconds) in enumerate(plan):
        work = os.path.join(run_dir, f"round{i}")
        os.makedirs(work)
        spec = {
            "workload": wl.name, "scale": args.scale, "meta": meta,
            "seconds": seconds, "warm_s": WARM_S, "traced": traced, "cores": cores,
            "work_dir": work, "out": os.path.join(work, "result.json"),
        }
        left = RUN_LIMIT_S - (time.monotonic() - t_start)
        try:
            rounds.append(run_round(spec, env, left))
        except RuntimeError as e:
            fail(f"{wl.name} round {i} failed: {e}")

    ref_ms = (ref_before + host_ref_ms()) / 2
    if not all(r["ops"] for r in rounds):
        fail("a round completed no operation")
    ops = [o for r in rounds for o in r["ops"]]
    checks = [c for r in rounds for c in r["checks"]]
    failed = sum(r["failed_ops"] for r in rounds) + sum(not ok for _, ok in checks)
    attempted = len(ops) + sum(r["failed_ops"] for r in rounds) + len(checks)
    med = statistics.median

    lines = [f"perfbench {wl.name} seed={args.seed} trace={args.trace} cores={cores} "
             f"inputs generated in {gen_s:.2f} s (not timed), host.ref_ms {ref_ms:.2f}"]
    if not args.trace:
        (r,) = rounds
        walls = [o["op_s"] for o in ops]
        metrics = {
            "setup_s": r["setup_s"],
            "work_per_s": ops[0]["units"] / med(walls),
        }
        declared = bench["end_to_end"]
        notes = {"setup_s": "one fresh-JVM set-up",
                 "work_per_s": f"{wl.UNIT} over the median of {len(ops)} operations "
                               f"({min(walls):.3f}-{max(walls):.3f} s)"}
    else:
        untraced, traced = rounds
        metrics = dict(traced["layers"])
        metrics.update(
            {
                "session.start_s": med(r["session_start_s"] for r in rounds),
                "deploy.ship_s": med(r["ship_s"] for r in rounds),
                "inputs.gen_s": gen_s,
                "mem.peak_rss_mb": untraced["peak_rss_mb"],
                "host.ref_ms": ref_ms,
                "trace.overhead_s": med(o["op_s"] for o in traced["ops"])
                - med(o["op_s"] for o in untraced["ops"]),
            }
        )
        declared = bench["per_layer"]
        names = {m["name"] for m in declared}
        for extra in sorted(set(metrics) - names):
            lines.append(f"  warning: undeclared layer metric {extra} dropped")
        notes = {}
        for m in declared:
            if m["name"] not in metrics:
                metrics[m["name"]] = 0.0
                notes[m["name"]] = "not on this workload's path"
        path = {n: metrics[n] for n in wl.PATH_LAYERS}
        top = max(path, key=path.get)
        lines.append(f"  largest layer by wall time: {top} = {path[top]:.4g} s "
                     f"(path layers: {', '.join(wl.PATH_LAYERS)})")
    for m in declared:
        lines.append(f"  {m['name']:<36} {metrics[m['name']]:>14.6g} {m['unit']:<8} "
                     f"{notes.get(m['name'], '')}")
    for desc, ok in checks:
        lines.append(f"  check {'PASS' if ok else 'FAIL'}  {desc}")
    lines.append(f"  failed_ratio {failed}/{attempted} = {failed / attempted:.4g}")
    print("\n".join(lines), file=sys.stderr)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    }
    report = {"workload": wl.name, "seed": args.seed, "metrics": metrics,
              "checks": checks, "rounds": rounds}
    return result, report


if __name__ == "__main__":
    main()
