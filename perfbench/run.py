#!/usr/bin/env python3
"""Seeded end-to-end benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_bulk, query_mix (see BENCHMARK.json and
perfbench/README.md). One run:

1. builds graft and the benchmark from source (skipped when unchanged);
2. generates the workload's inputs from the seed (untimed);
3. starts one JVM on local[<cores>] that sets up a session several times,
   runs an untimed prepare step, then a single closed-loop client that
   sends one command or query after another for --seconds;
4. checks every output in DuckDB;
5. prints, as the last stdout line, one JSON object with the end-to-end
   metrics (--trace 0) or the per-layer metrics (--trace 1).

Everything it writes goes under the build directory of the checkout.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

SETUPS = 3
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

UNITS = {"setup_s": "s", "wall_s": "s", "in_mb_per_s": "MB/s",
         "op_p50_s": "s", "op_p90_s": "s", "query_geomean_s": "s",
         "out_bytes_per_in_byte": "ratio", "peak_rss_mb": "MB",
         "failed_ops_ratio": "ratio"}


def metric_units(kind):
    """name -> unit of the end_to_end or per_layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def run_jvm(classpath, workload, in_dir, work, seconds, trace, cores):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = local
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.GraftBench",
            f"workload={workload}", f"in={in_dir}", f"work={work}",
            f"seconds={seconds}", f"trace={trace}", f"cores={cores}",
            f"setups={SETUPS}", f"launch_ms={int(time.time() * 1000)}"]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: JVM timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def steal_s():
    """CPU time the hypervisor gave to other guests (all CPUs), or 0."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tree_bytes(d):
    return sum(os.path.getsize(os.path.join(b, f))
               for b, _, fs in os.walk(d) for f in fs)


def end_to_end(workload, res, expect, work, failed, attempted):
    """All nine end-to-end metrics; BENCHMARK.json bounds the ones that
    are steady and never 0."""
    passes = [p for p in res["passes"] if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    lat = [o["s"] for o in ops if o["ok"]]
    wall = statistics.median(p["wall_s"] for p in passes)
    if workload == "query_mix":
        per_query = {}
        for o in ops:
            if o["ok"]:
                per_query.setdefault(o["name"], []).append(o["s"])
        geo = geomean([statistics.median(v) for v in per_query.values()])
        out_bytes = tree_bytes(os.path.join(work, "fix"))
    else:
        geo = geomean(lat)
        out_bytes = tree_bytes(os.path.join(work, "out"))
    m = {"setup_s": statistics.median(s["total_s"] for s in res["setups"]),
         "wall_s": wall,
         "in_mb_per_s": expect["in_bytes"] / 1e6 / wall,
         "op_p50_s": statistics.median(lat),
         "op_p90_s": quantile(lat, 0.9),
         "query_geomean_s": geo,
         "out_bytes_per_in_byte": out_bytes / expect["in_bytes"],
         "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
         "failed_ops_ratio": failed / attempted}
    samples = {"setups": len(res["setups"]), "passes": len(passes),
               "ops": len(lat)}
    return m, samples


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    names = metric_units("per_layer")
    values = {n: 0.0 for n in names}
    for n in names:
        vs = [p["layers"][n] for p in traced if n in p["layers"]]
        if vs:
            values[n] = statistics.median(vs)
    values.update({k: v for k, v in res["probes"].items() if k in names})
    values["Sessions.session_s"] = statistics.median(
        s["session_s"] for s in res["setups"])
    values["Sessions.warmup_s"] = statistics.median(
        s["warmup_s"] for s in res["setups"])
    # the first pass runs cold (codegen and JIT caches empty), so the
    # overhead compares traced passes with the later untraced ones
    values["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced) -
        statistics.median(p["wall_s"] for p in plain[1:]))
    return {n: {"value": values[n], "unit": u} for n, u in names.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    classpath = build.build(ROOT)
    phases = {"build_s": time.time() - t0}
    work = os.path.join(build.build_dir(ROOT), "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    t0 = time.time()
    expect = gen.GENERATORS[args.workload](in_dir, args.seed)
    phases["generate_s"] = time.time() - t0
    run_dir = os.path.join(work, "run")
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    t0, steal0 = time.time(), steal_s()
    res = run_jvm(classpath, args.workload, in_dir, run_dir, args.seconds,
                  args.trace, cores)
    phases["jvm_s"] = time.time() - t0
    phases["jvm_steal_s"] = steal_s() - steal0
    phases["prepare_s"] = sum(o["s"] for o in res["prepare"])

    ops = [o for p in res["passes"] for o in p["ops"]] + res["prepare"] + \
        res["probe_ops"]
    failed_ops = [o["name"] for o in ops if not o["ok"]]
    last = res["passes"][-1]["ops"]
    check_fails = check.CHECKS[args.workload](
        in_dir, run_dir, expect, [o["name"] for o in last])
    if res["probe_ops"]:
        check_fails += check.check_manifest(
            os.path.join(run_dir, "manifest"), expect["manifest"],
            [o["name"] for o in res["probe_ops"]])
    phases["check_s"] = time.time() - t0 - phases["jvm_s"]
    failed = min(len(ops), len(failed_ops) + len(check_fails))
    for name, why in check_fails:
        print(f"[perfbench] check failed: {name}: {why}", file=sys.stderr)

    e2e, samples = end_to_end(args.workload, res, expect, run_dir, failed,
                              len(ops))
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "samples": samples, "phases": phases,
              "end_to_end": {k: {"value": v, "unit": UNITS[k]}
                             for k, v in e2e.items()}}
    if args.trace:
        metrics = per_layer(res)
        report["per_layer"] = {k: v["value"] for k, v in metrics.items()}
    else:
        metrics = {k: report["end_to_end"][k]
                   for k in metric_units("end_to_end")}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("[perfbench] report " + json.dumps(report, sort_keys=True),
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
