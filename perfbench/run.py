#!/usr/bin/env python3
"""The repository's benchmark. One run of one workload:

    python3 perfbench/run.py --workload etl_csv --seed 1 --seconds 10 --trace 0

builds the engine and the JVM harness from source (once per source state;
the classpath is kept under .bench_build/), generates the workload's inputs
from the seed, runs the harness in one JVM with local[n] (n = min(4, cores))
and a heap of half the machine's memory clamped to 2-8 GiB, checks every
output against its oracle, and prints one JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see README.md).

Workloads (closed loop, one caller, no think time):
  etl_csv   Pipeline.run on a seeded CSV with the reference's columns
  queries   a seeded stratified sample of the oracle-green queries plus one
            reader of each shared memo, in passes
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
DEADLINE_S = 170
SETUPS = 5

WORKLOADS = ["etl_csv", "queries"]
END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "op_s_p50": "s",
                    "op_s_tail": "s", "ops_per_s": "1/s"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_key():
    """Digest of everything the build reads from the repository."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Classpath of the compiled engine + harness, building when stale."""
    key = source_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             f"-Dperfbench.cp={cp_file}", "writeClasspath"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.isfile(cp_file):
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file) as f:
        return f.read().strip()


def heap():
    """Half of MemTotal in GiB, clamped to 2-8 (the repository's test heap rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def load_lists():
    with open(os.path.join(HERE, "lists.json")) as f:
        return json.load(f)


def stratified_pick(walls, k):
    """The middle query of each of k equal strata of the list ordered by
    measured wall: a fixed mix from the cheapest to the most expensive."""
    names = sorted(walls, key=lambda q: (walls[q], q))
    bounds = [round(i * len(names) / k) for i in range(k + 1)]
    return [names[(a + b) // 2] for a, b in zip(bounds, bounds[1:])]


def plan_queries(seed, work, lists):
    import fixtures
    spec = lists["queries"]
    queries = stratified_pick(spec["walls_s"], spec["strata"]) + spec["memo_readers"]
    fixture_dir = os.path.join(work, "fixtures")
    fixtures.generate(fixture_dir, seed, spec["scale"])
    return {"fixture_dir": fixture_dir, "results_dir": os.path.join(work, "results"),
            "queries": queries}, {}


def plan_etl(seed, work, lists):
    import etl
    spec = lists["etl_csv"]
    path = os.path.join(work, "input", "df_fraud_credit.csv")
    size = etl.generate_csv(path, seed, spec["rows"])
    return {"csv": path}, {"csv_bytes": size, "rows": spec["rows"]}


def run_jvm(cp, plan_path, work, budget_s):
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", plan_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed ({rc})")


def etl_oracle(seed, csv_path, rows):
    """The reference model's outputs for this seed, computed once and kept
    (keyed by the model's source too, so an edited model recomputes)."""
    import etl
    with open(etl.__file__, "rb") as f:
        model = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(BUILD, "oracle", f"etl-{seed}-{rows}-{model}.json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    want = etl.reference_outputs(csv_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def verify(workload, raw, plan, info, seed, cores):
    """Failed checks: {label: reason}, and the number of checks made."""
    failures = {}
    ops = raw["cold"] + raw["window"]["ops"]
    for o in ops:
        if o["error"]:
            failures[f"op {o['id']} {o['name']}"] = o["error"]
    if workload == "etl_csv":
        import etl
        want = etl_oracle(seed, plan["csv"], info["rows"])
        for i, o in enumerate(ops, start=1):
            if not o["error"]:
                errs = etl.check_run(os.path.join(plan["work_dir"], "etl", f"run-{i:04d}"), want)
                if errs:
                    failures[f"op {o['id']} pipeline"] = "; ".join(errs)[:500]
        return failures, len(ops)
    import oracle
    dumped = {o["name"]: o["error"] for o in raw["cold"]}
    verdict = oracle.check_queries(plan["fixture_dir"], plan["results_dir"], raw["oracle_sql"],
                                   dumped, cores)
    for name, err in verdict.items():
        if err and not dumped[name]:
            failures[f"check {name}"] = err[:500]
    return failures, len(ops) + len(verdict)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the engine's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
        return 2
    cp = build()
    started = time.time()
    lists = load_lists()
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "etl_csv":
            plan, info = plan_etl(args.seed, work, lists)
        else:
            plan, info = plan_queries(args.seed, work, lists)
        plan.update(workload=args.workload, cores=cores, work_dir=work, setups=SETUPS,
                    seconds=args.seconds, trace=args.trace, order_seed=args.seed,
                    out=os.path.join(work, "raw.json"))
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t_inputs = time.time()
        run_jvm(cp, plan_path, work, DEADLINE_S - (time.time() - started))
        t_jvm = time.time()
        with open(plan["out"]) as f:
            raw = json.load(f)
        failures, checks = verify(args.workload, raw, plan, info, args.seed, cores)
        log(f"inputs {t_inputs - started:.1f} s, harness {t_jvm - t_inputs:.1f} s, "
            f"checks {time.time() - t_jvm:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines, result = report(args.workload, args.trace, raw, info, failures, checks,
                           lists["memo_names"])
    print("\n".join(lines + [json.dumps(result)]))
    return 0


def report(workload, trace, raw, info, failures, checks, memo_readers):
    """Human-readable lines and the result object of one run."""
    import metrics
    e2e = metrics.end_to_end(raw)
    if trace:
        layer = metrics.per_layer(raw, memo_readers, info.get("csv_bytes"))
        out = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
               for m in load_benchmark()["per_layer"]}
    else:
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    lines = [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in out.items()]
    n_ok = sum(1 for o in raw["window"]["ops"] if not o["traced"] and not o["error"])
    lines.append(f"op_s_p50 and op_s_tail (the maximum) are over {n_ok} timed operations")
    if workload == "etl_csv" and not trace and e2e["op_s_p50"] > 0:
        lines.append(f"etl_rows_per_s = {info['rows'] / e2e['op_s_p50']:.6g} rows/s "
                     f"({info['rows']} rows / op_s_p50)")
    lines += [f"FAILED {k}: {v}" for k, v in sorted(failures.items())]
    return lines, {"correct": not failures, "attempted": checks,
                   "failed": len(failures), "metrics": out}


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
