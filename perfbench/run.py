#!/usr/bin/env python3
"""Benchmark of the publish pipeline and the query registry (see README.md).

Run from the repo root:

    python3 perfbench/run.py --workload publish_history --seed 1 --seconds 13 --trace 0

It builds the engine if its sources changed, generates the workload's inputs
from the seed, runs one JVM with one client in a closed loop, checks every
output, and prints one JSON line last: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402
import gen_tree  # noqa: E402

CPUS = min(len(os.sched_getaffinity(0)), 4)
# The publish op covers `window` days of `tests` tests per package. `warmup`
# ops, or registry passes, run before the timed window (set-up). The staging
# pool holds enough days for `max_ops` more ops after the warm-up.
WORKLOADS = {
    "publish_history": {"window": 90, "tests": 8, "warmup": 6, "max_ops": 60},
    "registry": {"sf": 0.01, "warmup": 2},
}
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseG1GC",
    "-XX:-UsePerfData",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160
END_TO_END = ["setup_s", "op_p50_s", "items_per_s", "live_heap_mb"]
UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s", "live_heap_mb": "MB"}


def per_layer_names():
    with open("BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def prepare_publish(cfg, seed, work, plan):
    """Writes the first window into input/ and the rest of the days into
    staging/. Returns a function from op index to (items, model)."""
    tree = gen_tree.Tree(seed, cfg["tests"])
    window = cfg["window"]
    n_days = window + cfg["warmup"] + cfg["max_ops"]
    input_dir, staging = os.path.join(work, "input"), os.path.join(work, "staging")
    winners, lines = [], []
    for i in range(n_days):
        files, won = tree.day(i)
        gen_tree.write_files(input_dir if i < window else staging, files)
        winners.append(won)
        lines.append(gen_tree.bench_lines(files))
    bad = gen_tree.bad_date_files()
    gen_tree.write_files(input_dir, bad)
    plan.update(input=input_dir, staging=staging, deploy=os.path.join(work, "deploy"),
                window=window, warmup=cfg["warmup"],
                days=",".join(gen_tree.date_dir(i) for i in range(n_days)))

    def op(k):
        days = range(k, k + window)
        return (sum(lines[i] for i in days) + gen_tree.bench_lines(bad),
                lambda: gen_tree.model(winners, days))
    return op


def check_publish(result, op_of, deploy):
    """Each timed op's deploy dir against the model. Returns failed op ids."""
    failed = []
    for o in result["ops"]:
        d = os.path.join(deploy, o["id"])
        if not o["ok"]:
            failed.append(o["id"])
            print(f"op {o['id']} threw: {o['err']}", file=sys.stderr)
        else:
            problems = gen_tree.check_deploy(d, *op_of(int(o["id"]))[1]())
            if problems:
                failed.append(o["id"])
                print(f"op {o['id']} output wrong: {problems[:3]}", file=sys.stderr)
        shutil.rmtree(d, ignore_errors=True)
    return failed


def prepare_registry(cfg, seed, work, plan):
    bench = os.path.join(work, "tables")
    gen_tables.write(bench, seed, cfg["sf"])
    plan.update(bench=bench, warmup=cfg["warmup"],
                results=os.path.join(work, "results"), seed=seed)


def check_registry(result, plan):
    """Oracle compare of each query's untimed draw (tools/compare.py rules),
    then every timed draw's row count against that draw's. Returns failed
    op ids."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import compare
    import pyarrow.parquet as pq
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        compare.main(plan["bench"], plan["results"])
    verdict = {}
    for line in out.getvalue().splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL", "WARN", "skip"):
            verdict[parts[1].rstrip(":")] = parts[0]
            if parts[0] in ("FAIL", "WARN"):
                print(line, file=sys.stderr)
    rows = {}
    for w in result["warm"]:
        if w["id"] == "check":
            path = os.path.join(plan["results"], w["name"])
            rows[w["name"]] = pq.read_table(path).num_rows if w["ok"] else None
            if not w["ok"]:
                print(f"check draw of {w['name']} threw: {w['err']}", file=sys.stderr)
    failed = []
    for o in result["ops"]:
        name = o["name"]
        bad = (not o["ok"] or verdict.get(name) not in ("OK", "skip")
               or rows.get(name) is None or o["rows"] != rows[name])
        if bad:
            failed.append(o["id"])
            if o["ok"] and rows.get(name) is not None and o["rows"] != rows[name]:
                print(f"{name}: draw {o['id']} gave {o['rows']} rows, "
                      f"the checked draw {rows[name]}", file=sys.stderr)
            elif not o["ok"]:
                print(f"{name}: draw {o['id']} threw: {o['err']}", file=sys.stderr)
    return failed


def op_figures(result, failed, op_of):
    """(op seconds, items done by ops that did not fail, failed op count).
    A publish op is one JVM op. A registry op is one cycle over the picked
    queries, and an item is one draw."""
    ops = result["ops"]
    if not ops:
        raise SystemExit("run: no timed op completed")
    if op_of:
        items = sum(op_of(int(o["id"]))[0] for o in ops if o["id"] not in failed)
        return [o["s"] for o in ops], items, len(failed)
    k = len(result["selected"])
    cycles = [ops[i:i + k] for i in range(0, len(ops), k)]
    return ([sum(o["s"] for o in c) for c in cycles],
            sum(1 for o in ops if o["id"] not in failed),
            sum(1 for c in cycles if any(o["id"] in failed for o in c)))


def launch(cp, plan_path, work, deadline):
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_DRIVER_MEM" and not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", cp, "perfbench.PerfBench", plan_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"run: the JVM exited with code {code}")


def layer_table(layers):
    """The traced figures: one row per layer with a self time, the dominant
    one named, then the remaining counts and ratios one per line."""
    rows = {}
    for name, value in layers.items():
        layer, _, metric = name.rpartition(".")
        rows.setdefault(layer, {})[metric] = value
    timed = {layer: r for layer, r in rows.items() if r.get("self_s")}
    cols = list(dict.fromkeys(c for r in timed.values() for c in r))
    lines = ["layer".ljust(24) + "".join(c.rjust(13) for c in cols)]
    for layer, r in timed.items():
        lines.append(layer.ljust(24) + "".join(
            f"{r[c]:13.4g}" if c in r else " " * 13 for c in cols))
    if timed:
        top = max(timed, key=lambda layer: timed[layer]["self_s"])
        modules = {}
        for layer, r in timed.items():
            module = layer.split(".")[0]
            modules[module] = modules.get(module, 0.0) + r["self_s"]
        module = max(modules, key=modules.get)
        lines.append(f"dominant module: {module} ({modules[module]:.3f} s self of "
                     f"{sum(modules.values()):.3f} s); dominant layer: {top} "
                     f"({timed[top]['self_s']:.3f} s self)")
    lines += [f"{name:<32}{value:14.6g}" for name, value in layers.items()
              if name.rpartition(".")[0] not in timed]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("src/main/scala") or not os.path.isdir("tools"):
        raise SystemExit("run: start from the repo root (src/main/scala and tools/ not found)")
    cp = build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    cfg = WORKLOADS[args.workload]
    work = os.path.abspath(os.path.join(".bench_run", f"{args.workload}-{args.seed}"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        setup_epoch_ms = int(time.time() * 1000)
        plan = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                "cpus": CPUS, "work": work, "setup_epoch_ms": setup_epoch_ms,
                "out": os.path.join(work, "result.json")}
        if args.workload == "publish_history":
            op_of = prepare_publish(cfg, args.seed, work, plan)
        else:
            op_of = None
            prepare_registry(cfg, args.seed, work, plan)
        plan_path = os.path.join(work, "plan.properties")
        with open(plan_path, "w") as f:
            for k, v in plan.items():
                f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
        launch(cp, plan_path, work, deadline)
        with open(plan["out"]) as f:
            result = json.load(f)
        if args.workload == "publish_history":
            failed = check_publish(result, op_of, plan["deploy"])
        else:
            failed = check_registry(result, plan)
        secs, items, n_failed = op_figures(result, failed, op_of)
        n = len(secs)
        print(f"{args.workload}: warm-up "
              + " ".join(f"{w['s']:.2f}" for w in result["warm"][:24]) + " s")
        if result["selected"]:
            print(f"{args.workload}: queries " + " ".join(result["selected"]))
        print(f"{args.workload}: {n} ops, {n_failed} failed, "
              f"op p50 {statistics.median(secs):.4f} s, ops "
              + " ".join(f"{s:.2f}" for s in secs[:40]) + " s")
        print(f"failed_ratio {n_failed / n:.4f} (1)")
        if n >= 100:  # p90 only where at least ten samples lie beyond it
            print(f"op p90 {statistics.quantiles(secs, n=10)[-1]:.4f} s over {n} ops")
        if args.trace:
            print(layer_table(result["layers"]))
            trace_dir = ".bench_out"
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"trace-{args.workload}-{args.seed}.json"),
                      "w") as f:
                json.dump({"spans": result["spans"], "layers": result["layers"]}, f)
            metrics = {name: {"value": result["layers"].get(name, 0.0), "unit": unit}
                       for name, unit in per_layer_names()}
        else:
            values = {"setup_s": result["setup_s"], "op_p50_s": statistics.median(secs),
                      "items_per_s": items / sum(secs),
                      "live_heap_mb": result["live_heap_mb"]}
            metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
        print(json.dumps({"correct": not failed, "attempted": n, "failed": n_failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
