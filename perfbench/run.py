"""graft repo benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload <ingest|vector_serving> \
      --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds the engine and driver from source
(cached by source hash), writes the workload's seeded inputs into a
run-owned directory under `.bench_runs/`, runs the driver JVM on
`local[nproc]`, and prints as its last stdout line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (spans in `.bench_runs/<run>/spans.json`).
The line before it carries the run's environment stamp and extras.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest", "vector_serving")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss8m",
            "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.PerfBench"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=run_dir)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: driver JVM timed out")
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
    raise SystemExit("perfbench: driver exited %d without a result" % p.returncode)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = bench_spec()
    cp = build.build()
    runs = os.path.join(ROOT, ".bench_runs")
    name = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    run_dir = os.path.join(runs, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    gen.generate(a.workload, a.seed, os.path.join(run_dir, "data"))

    res = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                       run_dir, HERE], run_dir)
    res["stamp"]["git_sha"] = git_sha()
    res["stamp"]["build"] = os.path.basename(os.path.dirname(cp.split(os.pathsep)[0]))
    res["stamp"]["heap"] = HEAP

    if a.trace:
        layers = res["layers"]
        base = os.path.join(runs, "%s-s%d-t0" % (a.workload, a.seed), "result.json")
        traced = res["metrics"]["latency_p50_s"]
        if os.path.exists(base) and traced is not None:
            with open(base) as f:
                untraced = json.load(f)["metrics"]["latency_p50_s"]
            if untraced is not None:
                layers["trace.overhead_s_per_op"] = traced - untraced
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    # keep the result, spans and log; drop the bulky stores
    for d in os.listdir(run_dir):
        p = os.path.join(run_dir, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)

    print(json.dumps({"stamp": res["stamp"], "extra": res["extra"]}, sort_keys=True))
    # a run that completed no operation has no latency: not a valid result
    correct = bool(res["correct"]) and all(
        m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
