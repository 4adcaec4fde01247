#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload build|query --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The workload's inputs come from ``--seed``;
its closed loop measures for ``--seconds``. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
workload's end-to-end metrics, with ``--trace 1`` every per-layer metric
(see ``perfbench/metrics.py``); every workload reports every metric. The
line before it carries host facts, sample counts and, for a traced run, the
tracing overhead against the latest untraced run of the same workload.
Everything the run writes stays under ``.perfbench/`` in the repository
root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # run phases count from here, imports included

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170          # hard stop for one run
DRIVER_MEM = "2g"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def host_facts() -> dict:
    """nproc, loadavg, and CPU time stolen by the hypervisor since boot (the
    co-tenancy a virtual machine sees)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load, "steal_s": steal}


def commit() -> str:
    """The git commit, or a hash of the engine sources outside git."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(ROOT, "lucene_solr_spark", "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()


def spark_env(trace: bool) -> None:
    """Point Spark, the JVM and the Python workers at directories under
    ``.perfbench/``; a traced run also writes a Spark event log there. The
    settings go through the benchmark's own SPARK_CONF_DIR, so the engine's
    session factory is used unchanged."""
    conf, tmp, local = (os.path.join(WORK, d) for d in ("conf", "tmp", "spark-local"))
    for d in (conf, tmp, local):
        os.makedirs(d, exist_ok=True)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir {os.path.join(WORK, 'warehouse')}",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        log = os.path.join(WORK, "eventlog")
        shutil.rmtree(log, ignore_errors=True)
        os.makedirs(log)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, the PySpark daemon and its
    workers to exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendants, wait_gone

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if not wait_gone(pids, 30):
        raise RuntimeError("Spark processes still running after stop")


def trace_overhead(workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, against the untraced run of
    the same workload and seed (else the latest untraced run)."""
    same = os.path.join(WORK, "results", f"{workload}-trace0-seed{seed}.json")
    runs = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(WORK, "results", f"{workload}-trace0-*.json")),
        key=os.path.getmtime)
    if not runs:
        return None
    with open(runs[-1]) as f:
        base = json.load(f)
    return {
        "against": os.path.basename(runs[-1]),
        "delta": {m: v - base["end_to_end"][m] for m, v in traced.items()
                  if m in base["end_to_end"]},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark  # noqa: F401
    except ImportError as exc:
        return _fail(f"engine package not importable from {ROOT}: {exc}")
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    trace = bool(args.trace)
    start = host_facts()
    cpus = start["nproc"]
    spark_env(trace)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    from lucene_solr_spark.session import get_spark
    from perfbench.metrics import layer_values
    from perfbench.trace import Tracer, fold_event_log

    spark = get_spark("perfbench", cpus=cpus)
    try:
        tracer = Tracer(spark, trace)
        ctx = Ctx(spark, args.seed, args.seconds, cpus, run_dir, tracer, T_START)
        ctx.mark("session")
        res = WORKLOADS[args.workload](ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if trace:
        layers = layer_values(tracer, res.layers,
                              fold_event_log(os.path.join(WORK, "eventlog")))
        metrics = {m: {"value": layers[m], "unit": u} for m, u in PER_LAYER.items()}
    else:
        missing = sorted(set(END_TO_END) - set(res.metrics))
        if missing:
            return _fail(f"no value for {missing}: {res.errors[:3]}")
        metrics = {m: {"value": res.metrics[m], "unit": u} for m, u in END_TO_END.items()}
    signal.alarm(0)

    end = host_facts()
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(), "cpus": cpus,
        "host_start": start, "host_end": end,
        "steal_s": end["steal_s"] - start["steal_s"],
        "end_to_end": res.metrics, "samples": res.samples, "raw": res.raw,
        "phases": ctx.phases,
        "attempted": res.attempted, "failed": res.failed, "errors": res.errors[:20],
        "metrics": {m: v["value"] for m, v in metrics.items()},
    }
    if trace:
        report["trace_overhead"] = trace_overhead(args.workload, args.seed, res.metrics)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-trace{args.trace}-seed{args.seed}.json"),
              "w") as f:
        json.dump(report, f, indent=1, default=float)
    print(json.dumps({"perfbench": report}, default=float))
    print(json.dumps({
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
