"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 20 --trace 0

Run from the root of the repository. The command builds graft and the
harness from source (`perfbench/build.py`, first run only), generates the
workload's inputs from the seed (`perfbench/gen.py`, timed apart), runs
the workload as a closed loop with one client on `local[nproc]` for the
given seconds (`perfbench/src`), checks every output against an
independent DuckDB answer (`perfbench/checks.py`) and prints the metrics.
The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. The full report (every metric, the per-layer table,
the environment, the check details) goes to standard error and to
`perfbench/.work/<workload>/report.json`. A wrong output exits 1.

Workloads: pipeline_batch, corpus_curation, lakehouse_cdc (see gen.py
and BENCHMARK.json for what each stresses and why).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("pipeline_batch", "corpus_curation", "lakehouse_cdc")
DEADLINE_S = 175          # a run must end within 180 s ...
BUILD_DEADLINE_S = 850    # ... or 900 s when it had to compile first
XMX = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def environment():
    """Box facts a reader needs to trust the seconds: cores, memory,
    load and hypervisor steal."""
    def read(path):
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return ""
    mem = [line.split()[1] for line in read("/proc/meminfo").splitlines()
           if line.startswith("MemTotal:")]
    cpu = read("/proc/stat").splitlines()
    fields = cpu[0].split() if cpu else []
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_kb": int(mem[0]) if mem else None,
            "loadavg": read("/proc/loadavg").split()[:3],
            "steal_ticks": int(fields[8]) if len(fields) > 8 else None,
            "time": time.time()}


def run_jvm(classpath, workload, seconds, trace, work, cores, budget):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: a heap that grows during the first runs slows
    # them unevenly (more frequent collections), which showed as
    # run-to-run drift over the first warm runs
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main", "--workload", workload,
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--bench", BENCH, "--in", os.path.join(work, "in"), "--work", work,
              "--out", result, "--cores", str(cores)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"workload run exceeded {budget:.0f} s")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"workload JVM exited {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    t_start = time.time()
    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "src", "main", "scala")):
        log("perfbench: run from the root of the graft repository (src/main/scala not found)")
        return 2

    env_start = environment()
    classpath = build.build(repo, log)
    deadline = BUILD_DEADLINE_S if time.time() - t_start > 20 else DEADLINE_S

    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    gen_info = gen.generate(a.workload, a.seed, os.path.join(work, "in"))
    gen_s = time.time() - t0

    t0 = time.time()
    res = run_jvm(classpath, a.workload, a.seconds, bool(a.trace), work,
                  env_start["nproc"], deadline - (time.time() - t_start))
    jvm_s = time.time() - t0
    env_end = environment()

    t0 = time.time()
    failures, n_checks = checks.check(a.workload, work, res)
    check_s = time.time() - t0
    e2e = stats.end_to_end(res)
    layers = stats.per_layer(res) if a.trace else {}
    if a.trace:
        failures += stats.coverage(a.workload, layers)
        n_checks += 1
    ops = [o for o in res["ops"] if o["kind"] != "lag"]
    attempted = len(ops) + n_checks
    failed = sum(1 for o in ops if not o["ok"]) + len(failures)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": {"start": env_start, "end": env_end, "xmx": XMX, "cores": res["cores"],
                "steal_ticks_delta": (env_end["steal_ticks"] or 0) - (env_start["steal_ticks"] or 0)},
        "gen_s": gen_s, "gen": gen_info, "prep_s": res["prep_s"],
        "wall": {"gen_s": gen_s, "jvm_s": jvm_s, "check_s": check_s,
                 "loop_s": res["loop_s"], "finish_s": res["finish_s"],
                 "total_s": time.time() - t_start},
        "end_to_end": e2e, "per_layer": layers,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "check_failures": failures, "checks": n_checks,
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    log(stats.render(report))

    metrics = stats.select(layers, "per_layer") if a.trace else stats.select(e2e, "end_to_end")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not failures and failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a broken run must not print a result line
        log(f"perfbench: {type(e).__name__}: {e}")
        sys.exit(1)
