"""Benchmark entry point.

    python3 perfbench/run.py --workload build_code --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Prints progress on stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  ``--smoke`` runs traced at a
tiny size and fails unless every metric named in BENCHMARK.json is
produced.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def say(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(run_dir: str) -> dict[str, str]:
    """Fix every setting the program reads from the environment, the
    same way on every commit: all cores of this process, a driver heap
    sized to the machine (a quarter of RAM, at most 2 GiB), the checkout
    on the workers' PYTHONPATH, and scratch space inside this run's
    directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark_local")
    os.makedirs(tmp)
    os.makedirs(local)
    for var in ("SPARK_GRAFT_ON_CLUSTER", "DE_SPARK_OVERLAP_WRITES", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, _mem_total_mb() // 4)}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    return pinned


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> dict:
    import harness
    import workloads

    sizes = workloads.SMOKE if args.smoke else workloads.FULL
    out_dir = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}-{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0, total0 = harness.cpu_ticks()
    rss = harness.RssSampler().start()
    spark = bench = None
    try:
        pinned = pin_environment(run_dir)
        sys.path.insert(0, ROOT)
        from de_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.driver.defaultJavaOptions":
                    f"-Djava.io.tmpdir={pinned['TMPDIR']} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - PROCESS_T0
        bench = workloads.Bench(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                                run_dir, sizes)
        bench.make_inputs()
        if args.workload not in ("build_code", "build_rdf"):
            bench.build_store()
        bench.make_oracle()
        setup_s = time.perf_counter() - PROCESS_T0
        say(f"set-up {setup_s:.1f}s (session {t_session:.1f}s)")
        bench.run_window()
        say(f"window {bench.window_s:.1f}s")
        if args.trace:
            t = time.perf_counter()
            bench.layer_passes()
            say(f"layer passes {time.perf_counter() - t:.1f}s")
        peak_rss_mb = rss.stop()
        ops = bench.ops
        for o in ops:
            say(f"  {o.phase:6s} {o.kind:6s} {o.cls:13s} {o.ms:9.1f} ms  {o.verdict}"
                + (f" ({o.defect})" if o.defect else ""))
        e2e = bench.end_to_end(setup_s)
        layer = bench.per_layer() if args.trace else {}
        steal1, total1 = harness.cpu_ticks()
        host = {
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "loadavg": harness.loadavg(),
            "cpus": int(pinned["SPARK_GRAFT_CPUS"]),
            "driver_mem": pinned["SPARK_GRAFT_DRIVER_MEM"],
        }
        summary = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "run_s": time.perf_counter() - PROCESS_T0, "host": host,
            "window_ops": len(bench.window_ms()),
            "failed_by_cause": {
                c: sum(1 for o in ops if o.failed and (o.defect or "unexpected") == c)
                for c in (workloads.DEFECT_DUP, workloads.DEFECT_CLOSURE, "unexpected")
            },
            "failed_by_class": {
                c: sum(1 for o in ops if o.failed and o.cls == c) for c in sorted({o.cls for o in ops})
            },
        }
        say(json.dumps(summary))
        if args.trace:
            layer["peak_rss_mb"] = (peak_rss_mb, "MB")
            layer["host.steal_frac"] = (host["steal_frac"], "ratio")
            layer["host.loadavg"] = (host["loadavg"], "count")
            bench.tracer.dump(
                os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"),
                {"summary": summary, "end_to_end": e2e, "per_layer": layer,
                 "ops": [o.__dict__ for o in ops]},
            )
        return {
            "correct": not any(o.failed and o.defect is None for o in ops),
            "attempted": len(ops),
            "failed": sum(o.failed for o in ops),
            "e2e": e2e,
            "layer": layer,
        }
    finally:
        if bench is not None:
            bench.close()
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def smoke_check(result: dict) -> list[str]:
    """Metrics BENCHMARK.json names that the run did not produce.  A
    check that cannot run raises, so the run itself fails before this."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for section, key in (("end_to_end", "e2e"), ("per_layer", "layer")):
        for m in spec[section]:
            got = result[key].get(m["name"])
            if got is None:
                problems.append(f"missing {section} metric {m['name']}")
            elif got[1] != m["unit"]:
                problems.append(f"{m['name']}: unit {got[1]} != {m['unit']}")
    return problems


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; validate metric names")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "de_spark", "__init__.py")):
        print(f"de_spark package not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.smoke:
        args.trace = 1
    result = run(args)
    if args.smoke:
        problems = smoke_check(result)
        for p in problems:
            print(f"smoke: {p}", file=sys.stderr)
        if problems:
            return 1
    metrics = result["layer"] if args.trace and not args.smoke else result["e2e"]
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
