"""Layer-by-layer benchmark of the near-duplicate engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process starts one local Spark session on
every CPU the process may use, generates the workload's inputs from the
seed, warms up, then runs operations (a pipeline pass or a stream wave) for
``--seconds`` seconds, checks every output, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans and the Spark event log are on and the metrics are the per-layer
ones. The spans of a traced run are written to
``.perfbench_out/spans-<workload>-<seed>.jsonl``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ordinarydumpdeduplicator_spark"
DRIVER_MEM_MIB = 2048
MIN_OPS = 2  # timed operations per run, even when one outlasts --seconds


def load_spec() -> dict:
    """BENCHMARK.json: the workload names and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv, spec: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="input sizes; 'smoke' is for the smoke test only")
    return p.parse_args(argv)


def box_ram_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Fix everything the engine reads from the environment, before the
    JVM starts: one local Spark on all usable CPUs, a driver heap well
    below box RAM, the repository on the Python workers' path, and every
    temporary directory inside this run's work directory."""
    cores = len(os.sched_getaffinity(0))
    driver_mib = min(DRIVER_MEM_MIB, box_ram_mib() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        ODD_SPARK_DRIVER_MEM=f"{driver_mib}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    return dict(
        master=f"local[{cores}]",
        cores=cores,
        driver_memory=f"{driver_mib}m",
        box_ram_mib=box_ram_mib(),
        pythonpath=os.environ["PYTHONPATH"],
        spark_local_dirs=os.environ["SPARK_LOCAL_DIRS"],
        python=sys.version.split()[0],
    )


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (and with it the Python workers) and
    wait until every process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.observe import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def end_to_end(ops: list[dict], final: dict, setup_s: float) -> dict:
    """Times are walls scaled by the CPU share the host granted during
    them (see README.md), so that a busy host does not read as a slower
    engine."""
    from perfbench.observe import median

    # a failed reader's operation leaves no pair counts and no stored bytes
    return {
        "images_per_s": median(op["rows"] / (op["wall"] * op["granted"]) for op in ops),
        "latency_p50_s": median(op["wall"] * op["granted"] for op in ops),
        "pair_recall": final.get("recall", 0.0),
        "pair_precision": final.get("precision", 0.0),
        "stored_bytes_per_image": final.get("stored", 0) / max(final["rows_total"], 1),
        "setup_s": setup_s,
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.observe import cpu_jiffies, granted_share

    cpu_start = cpu_jiffies()
    t_start = time.perf_counter()
    spec = load_spec()
    args = parse_args(argv, spec)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    from perfbench.observe import (
        MIB, RssSampler, Tracer, attribute, median, read_event_log,
    )
    from perfbench.workloads import WORKLOADS, Context

    from ordinarydumpdeduplicator_spark.session import get_spark

    try:
        with RssSampler() as rss:
            spark = get_spark(
                "perfbench", cores=env["cores"],
                extra_conf=spark_conf(work, bool(args.trace)),
            )
            try:
                run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
                tracer = Tracer(run_id, spark.sparkContext) if args.trace else None
                ctx = Context(spark, args.seed, work, args.size, tracer)
                wl = WORKLOADS[args.workload](ctx)
                wl.setup()
                setup_s = (time.perf_counter() - t_start) * granted_share(
                    cpu_start, cpu_jiffies()
                )
                ops: list[dict] = []
                t_end = time.perf_counter() + args.seconds
                while len(ops) < wl.max_ops and (
                    len(ops) < MIN_OPS or time.perf_counter() < t_end
                ):
                    t0, cpu0 = time.perf_counter(), cpu_jiffies()
                    try:
                        op = wl.op(len(ops))
                    except Exception:  # a failed operation, not a crash
                        traceback.print_exc()
                        op = dict(ok=False, rows=0, wall=time.perf_counter() - t0,
                                  error=True)
                    op["granted"] = granted_share(cpu0, cpu_jiffies())
                    ops.append(op)
                    print(f"perfbench: op {len(ops) - 1} wall {op['wall']:.3f}s"
                          f" host granted {op['granted']:.3f} of CPU asked for"
                          f" {'ok' if op['ok'] else 'CHECK FAILED'}", file=sys.stderr)
                    if "error" in op:
                        break  # the state an op failed in is not trusted
                try:
                    final = wl.finish()
                except Exception:
                    traceback.print_exc()
                    final = dict(ok=False, result_load_s=0.0, rows_total=0)
            finally:
                stop_spark(spark)
        failed = sum(not op["ok"] for op in ops) + (not final["ok"])
        result = dict(correct=failed == 0, attempted=len(ops) + 1, failed=failed)
        if args.trace:
            log = read_event_log(os.path.join(work, "eventlog"))
            attributed = attribute(
                log, lambda props: props.get("spark.jobGroup.id")
            )
            done = [op for op in ops if "error" not in op]
            layers = wl.layer_metrics(done, attributed, Tracer.group_of) if done else {}
            layers["trace.latency_p50_s"] = median(op["wall"] for op in ops)
            layers["process.peak_rss_mb"] = rss.peak / MIB
            layers["process.host_granted_share"] = median(op["granted"] for op in ops)
            layers["reader.load_s"] = final["result_load_s"]
            # a workload reports 0 for the layers it does not run
            values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            e2e = end_to_end(ops, final, setup_s)
            values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
        result["metrics"] = {
            n: {"value": float(v), "unit": units[n]} for n, v in values.items()
        }
        print("perfbench env: " + json.dumps(dict(
            env, workload=args.workload, seed=args.seed,
            op_wall_s=[round(op["wall"], 3) for op in ops],
            op_host_granted=[round(op["granted"], 3) for op in ops],
        )))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
