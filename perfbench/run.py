#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against the graft library.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds graft and the harness if their sources changed, makes and
verifies the workload's dataset, then starts one fresh JVM that sets up
a Spark session several times, runs one cold pass and then steady passes
over the workload's queries for --seconds, and dumps every query's
output. The seed permutes the query order within each pass. Outputs are
checked against their oracles after the JVM exits, outside every timed
region. The last line of stdout is one JSON object: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones,
whose spans and counts go to perfbench/out/trace-<workload>-s<seed>.json.

Exit codes: 0 ok; 1 a query failed or its output was wrong (the result
line is still printed); 2 the benchmark could not run (no result line).
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
OUT = HERE / "out"
# JDK 17 module opens that Spark needs outside spark-submit; the same
# list as the root build.sbt's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A 3 GB heap with a fixed young generation, so that GC sizing does
# not drift between runs.
JVM_OPTIONS = ["-Xmx3g", "-Xms3g", "-XX:NewSize=768m", "-XX:MaxNewSize=768m"]
JVM_TIMEOUT_S = 150
ORDERS = 64


class Unrunnable(RuntimeError):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pass_orders(queries, seed, n=ORDERS):
    """The query order of each pass: seeded permutations of one list."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def load_config():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cfg = json.loads((HERE / "workloads.json").read_text())
    return bench, cfg


def selfcheck_config(bench, cfg):
    """The workloads of BENCHMARK.json and workloads.json agree, and
    two seeds give the same queries in different orders."""
    names = [w["name"] for w in bench["workloads"]]
    if sorted(names) != sorted(cfg["workloads"]):
        raise Unrunnable(f"BENCHMARK.json workloads {names} != workloads.json {sorted(cfg['workloads'])}")
    for name, w in cfg["workloads"].items():
        a, b = pass_orders(w["queries"], 1, 4), pass_orders(w["queries"], 2, 4)
        if any(sorted(x) != sorted(w["queries"]) for x in a + b) or a == b:
            raise Unrunnable(f"seeded orders of {name} are not permutations that differ by seed")


def run_jvm(classpath, plan_file, run_dir, log_file):
    cmd = ["java", *JVM_OPTIONS, "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Harness", str(plan_file)]
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise Unrunnable(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log {log_file}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        tail = Path(log_file).read_text()[-3000:]
        raise Unrunnable(f"harness JVM exited {rc}; log {log_file}:\n{tail}")


def end_to_end(result):
    steady = [p for p in result["steady"] if not p["traced"]]
    by_query = {}
    for p in steady:
        for q in p["queries"]:
            by_query.setdefault(q["name"], []).append(q["latency_s"])
    # The median query's median latency, always one real query's
    # figure: with an even number of queries, median_low takes the
    # lower of the middle two rather than their mean. On a two-query
    # workload it is the faster query's median latency.
    latency = statistics.median_low(statistics.median(v) for v in by_query.values())
    return {
        "setup_s": statistics.median(result["setup_s"]),
        "cold_pass_s": result["cold"]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in steady),
        "latency_p50_s": latency,
        "peak_rss_mb": result["peak_rss_mb"],
    }, sum(len(v) for v in by_query.values())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    try:
        sys.dont_write_bytecode = True
        sys.path.insert(0, str(HERE))
        import build
        import check
        import layers

        bench, cfg = load_config()
        selfcheck_config(bench, cfg)
        if args.workload not in cfg["workloads"]:
            raise Unrunnable(f"unknown workload {args.workload!r}; known: {sorted(cfg['workloads'])}")
        wl = cfg["workloads"][args.workload]
        WORK.mkdir(parents=True, exist_ok=True)
        try:
            classpath = build.ensure(ROOT)
        except build.BuildError as e:
            raise Unrunnable(str(e))
        spec = cfg["datasets"][wl["dataset"]]
        try:
            data_dir = check.ensure_dataset(wl["dataset"], spec, WORK)
        except check.DataError as e:
            raise Unrunnable(str(e))

        run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
        shutil.rmtree(run_dir, ignore_errors=True)
        (run_dir / "tmp").mkdir(parents=True)
        dump = run_dir / "dump"
        dump.mkdir()
        plan = run_dir / "plan.txt"
        lines = [f"workload={args.workload}", f"data={data_dir}", f"seconds={args.seconds}",
                 f"trace={args.trace}", f"out={run_dir / 'result.json'}",
                 f"dump={dump}", f"local_dir={run_dir / 'tmp'}", "queries=" + ",".join(wl["queries"])]
        lines += ["order=" + ",".join(o) for o in pass_orders(wl["queries"], args.seed)]
        plan.write_text("\n".join(lines) + "\n")
        OUT.mkdir(exist_ok=True)
        log_file = OUT / f"jvm-{args.workload}-s{args.seed}.log"
        t_jvm = time.time()
        run_jvm(classpath, plan, run_dir, log_file)
        t_check = time.time()
        result = json.loads((run_dir / "result.json").read_text())

        failures, selftest = check.check_outputs(
            dump, data_dir, json.dumps(spec["tables"], sort_keys=True), wl["queries"], WORK)
        if not selftest:
            raise Unrunnable("self-test failed: no query's dump could be checked with one row "
                             "dropped, or the check passed it")
        runs = [result["cold"]] + result["steady"]
        attempted = sum(len(p["queries"]) for p in runs) + len(wl["queries"])
        errors = [(p["index"], q["name"], q["error"]) for p in runs for q in p["queries"] if q["error"]]
        # A query that throws in the dump pass also has no output to
        # check; it counts once.
        failed = len(errors) + len(set(result["check_errors"]) | set(failures))
        for i, name, err in errors:
            log(f"FAIL pass {i} {name}: {err}")
        for name, err in {**result["check_errors"], **failures}.items():
            log(f"FAIL check {name}: {err}")

        e2e, samples = end_to_end(result)
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "end_to_end": e2e, "latency_samples": samples, "attempted": attempted,
                  "failed": failed, "failed_frac": failed / attempted,
                  "pass_s": [p["wall_s"] for p in result["steady"]],
                  "cold_pass_s": result["cold"]["wall_s"], "setup_s": result["setup_s"],
                  "tables_load_s": result["tables_load_s"], "jvm_phase_s": result["phase_s"],
                  "host": result["host"], "check_failures": failures,
                  "wall": {"prepare_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
                           "check_s": time.time() - t_check}}
        if args.trace:
            layer, artifact = layers.analyze(result, result["host"]["nproc"])
            artifact.update(seed=args.seed, end_to_end_traced=e2e)
            (OUT / f"trace-{args.workload}-s{args.seed}.json").write_text(json.dumps(artifact))
            wanted = bench["per_layer"]
            values = layer
        else:
            (OUT / f"run-{args.workload}-s{args.seed}.json").write_text(json.dumps(report, indent=1))
            wanted = bench["end_to_end"]
            values = e2e
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise Unrunnable(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        log(f"{args.workload} seed {args.seed}: " + ", ".join(
            f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items()) +
            f" ({samples} latency samples, {failed}/{attempted} failed)")
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if failed == 0 else 1
    except (Unrunnable, OSError, KeyError, ValueError, ImportError) as e:
        log(f"cannot run: {type(e).__name__}: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
