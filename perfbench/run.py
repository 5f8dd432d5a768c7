#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one closed-loop client,
the engine at local[2] in one JVM.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs perfbench.Harness, checks the
outputs (the harness checks ETL sinks and query digests; the DuckDB
oracle check runs here), and prints as its last stdout line one JSON
object: correct, attempted, failed and the metrics BENCHMARK.json names
for the trace mode (end-to-end with --trace 0, per-layer with --trace 1).
The line before it carries the workload's metrics under their long
names, the failures and the run environment.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CHAIN_BLOCKS = 8_000         # etl_catchup chain: 7 fresh cycles + 1 replay
BOARD_SF = 0.01              # board fixture scale factor
HEAP = "2g"
TIMEOUT_S = 170
# Per-layer metric groups that belong to one workload; on the others they
# read 0 because that layer is never invoked there.
LAYER_OWNER = {"etl.": "etl_catchup", "rel.": "board", "llm.": "board"}

# build.sbt's code cache and codegen cache settings, plus a JVM sized for two
# processors (its JIT compiler and GC threads) to match the engine's local[2]:
# on a shared 4-core host, a run that keeps every core busy times its
# neighbours' load more than the program.
JVM_OPTS = [
    "-XX:ReservedCodeCacheSize=768m", "-XX:+UseCodeCacheFlushing", "-XX:ActiveProcessorCount=2",
    "-Dspark.sql.codegen.cache.maxEntries=5000",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def make_inputs(workload, seed, work):
    if workload == "etl_catchup":
        import gen_chain
        chain = os.path.join(work, "chain")
        gen_chain.generate(chain, CHAIN_BLOCKS, seed)
        gen_chain.generate(chain + "-warm", CHAIN_BLOCKS, seed + 7919)  # warm-up chain
        return chain
    import gen_tables
    sf = os.path.join(work, "sf")
    gen_tables.generate(sf, BOARD_SF, seed)
    return sf


def harness_cmd(classes, work, workload, inp, seed, seconds, trace, out):
    import build
    cp = os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + JVM_OPTS +
            ["-cp", cp, "perfbench.Harness", workload, work, inp, str(seed),
             str(seconds), str(trace), out])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("program sources (src/main/scala) not found; run from a full checkout")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    import build
    classes = build.build()

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inp = make_inputs(a.workload, a.seed, work)
        out = os.path.join(work, "result.json")
        cmd = harness_cmd(classes, work, a.workload, inp, a.seed, a.seconds, a.trace, out)
        left = TIMEOUT_S - (time.monotonic() - t_start)
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
        try:
            code = proc.wait(timeout=max(10, left))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness timed out")
        if code != 0 or not os.path.exists(out):
            die(f"harness exited with code {code}")
        res = json.load(open(out))
        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "board":
            import oracle
            checked, bad = oracle.compare(inp, work)
            res["info"]["oracle_checked"] = len(checked)
            known = {f.split(":")[0] for f in failures}
            failed += len({b.split(":")[0] for b in bad} - known)
            failures += bad
        metrics = {}
        for m in wanted:
            name = m["name"]
            if name in res["metrics"]:
                v = res["metrics"][name]
            elif any(name.startswith(p) and w != a.workload for p, w in LAYER_OWNER.items()):
                v = 0.0
            else:
                die(f"harness did not report {name}")
            metrics[name] = {"value": v, "unit": m["unit"]}
        attempted = max(1, res["attempted"])
        res["info"]["ops_failed_ratio"] = failed / attempted
        env = dict(res["env"], host_cores=str(os.cpu_count()))
        print(json.dumps({"workload": a.workload, "seed": a.seed, "info": res["info"],
                          "failures": failures, "env": env}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
