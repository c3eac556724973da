#!/usr/bin/env python3
"""The graft benchmark: one command, one workload, one seeded run.

    python3 perfbench/run.py --workload analytic|mor-churn --seed N \\
        --seconds S --trace 0|1

Run from the repository root. It builds the engine and the client from
source (once per source state), generates the seeded inputs, runs the
closed-loop client in one JVM on local[nproc], checks every operation's
result against DuckDB and prints every metric by name with its unit. The
last stdout line is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics untraced, per-layer metrics with --trace 1). A traced run
also prints the per-layer self-time table and keeps its spans as JSON lines.

See perfbench/README.md for the workloads, the metrics and how to compare
two result sets (perfbench/compare.py).
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# The analytic pool: keys of every query family whose declared query carries
# a DuckDB oracle, so every result is checked. join_range_bucketed runs an
# eager sizing job while its DataFrame is built (queries.construct_jobs).
ANALYTIC_POOL = [
    "tpch_q03_shipping_priority", "tpch_q06_forecast_revenue",
    "tpcds_q72_inventory_chain", "events_tumbling_window", "join_range_bucketed",
    "llm_ann_bruteforce",
]
WORKLOADS = ("analytic", "mor-churn")
HEAP = "2g"
JVM_LIMIT_S = 170
KEEP_INPUT_SEEDS = 4
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def inputs(base, seed):
    """Generated inputs for `seed`, cached; only the newest few seeds stay."""
    root = os.path.join(base, "inputs")
    with open(gen.__file__, "rb") as f:  # a changed generator means new inputs
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, f"seed{seed}-{version}")
    info = gen.generate(d, seed)
    os.utime(d)
    old = sorted((os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime)
    for x in old[:-KEEP_INPUT_SEEDS]:
        shutil.rmtree(x, ignore_errors=True)
    return d, info


def run_client(classes, workload, seed, seconds, trace, data, out, pool):
    jars = os.path.join(build.spark_jars(), "*")
    # a fixed heap and a stop-the-world collector: no heap resizing and no
    # concurrent GC threads competing with the task threads for the cores
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss8m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp",
           f"-Dderby.system.home={out}/derby", f"-Dspark.hadoop.hadoop.tmp.dir={out}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Client",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores()),
            "--data", data, "--out", out, "--pool", ",".join(pool)]
    os.makedirs(f"{out}/tmp")
    with open(f"{out}/client.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"client exceeded {JVM_LIMIT_S} s")
    if code != 0 or not os.path.exists(f"{out}/run.json"):
        with open(f"{out}/client.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"client failed with code {code}")
    with open(f"{out}/run.json") as f:
        return json.load(f)


def cpu_times():
    """The machine's aggregate CPU jiffies (user .. steal) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pool", help="comma-separated analytic pool (tests)")
    a = ap.parse_args(argv)

    classes, source_hash = build.ensure()
    base = build.build_dir()
    data, info = inputs(base, a.seed)
    out = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    pool = a.pool.split(",") if a.pool else ANALYTIC_POOL
    cpu0 = cpu_times()
    try:
        run = run_client(classes, a.workload, a.seed, a.seconds, a.trace, data, out,
                         pool if a.workload == "analytic" else [])
        cpu1 = cpu_times()
        if a.workload == "analytic":
            bad = check.check_analytic(run, os.path.join(data, "tables"),
                                       os.path.join(out, "results"))
        else:
            bad = {}
            check.check_mor(run, data)
        spans = []
        if a.trace:
            with open(os.path.join(out, "spans.jsonl")) as f:
                spans = [json.loads(x) for x in f]
            tdir = os.path.join(base, "traces")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(tdir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
        with open(os.path.join(base, f"last-{a.workload}.run.json"), "w") as f:
            json.dump(run, f)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    failed = [o for o in run["ops"] if not o["correct"]]
    e2e, facts = stats.end_to_end(run)
    facts["fail_ratio"] = len(failed) / len(run["ops"])
    if cpu0 and cpu1:  # time the hypervisor gave this machine's CPUs to others
        facts["cpu_steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    print(f"graft benchmark: workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={run['cores']} heap={HEAP} spark={run['spark_version']} "
          f"source={source_hash[:12]} lineitem_rows={info['rows']['lineitem']}")
    for k, why in sorted(bad.items()):
        print(f"  WRONG {k}: {why}")
    for o in failed[:10]:
        print(f"  FAILED op {o['i']} {o['key']}: {o.get('why', '')[:300]}")
    if a.trace:
        metrics = stats.per_layer(run)
        print(f"  {'layer':<14}{'spans':>8}{'total_ms':>12}{'self_ms':>12}")
        for layer, (n, tot, own) in sorted(stats.self_times(spans).items()):
            print(f"  {layer:<14}{n:>8}{tot:>12.1f}{own:>12.1f}")
    else:
        metrics = e2e
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {fmt(v)} {unit}")
    for k, v in facts.items():
        print(f"  ({k} = {fmt(v)})")
    result = {"correct": not failed, "attempted": len(run["ops"]), "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(base, "results.jsonl"), "a") as f:
        f.write(json.dumps(dict(result, workload=a.workload, seed=a.seed, trace=a.trace,
                                source=source_hash, time=time.time(), facts=facts)) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
