"""perfbench: the repo's layer-attributed benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds the engine and the benchmark driver from
source (perfbench/build.py), makes the workload's seeded inputs
(perfbench/gen.py) in the run's own directory, runs one closed-loop
single-client stream in one JVM at local[nproc], checks every output
(perfbench/checks.py) and prints the metrics as the last line of stdout.
Everything the run writes lives under `.perfbench/` in the working
directory; a run's own scratch space is deleted when it ends. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 150
def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(root, workload, seed, seconds, trace, inputs, run_dir):
    cpus = len(os.sched_getaffinity(0))
    launch_ms = time.time() * 1000.0
    cmd = ["java", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")] + \
        build.jvm_options(root) + ["-cp", build.classpath(root), "perfbench.Main",
            f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"inputs={inputs}", f"run={run_dir}",
            f"cpus={cpus}", f"launch_ms={launch_ms}"]
    env = dict(os.environ)
    env.pop("SPARK_HOME", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, cwd=root)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"driver JVM timed out after {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"driver JVM exited with code {code}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    build.build(root)
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "wh"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        # every run generates its inputs, so set-up time always includes it
        t0 = time.time()
        inputs = os.path.join(run_dir, "inputs")
        facts = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        res = run_jvm(root, a.workload, a.seed, a.seconds, a.trace, inputs,
                      run_dir)
        t_check = time.time()
        verdict = checks.check(a.workload, inputs, facts, res)
        for p in verdict["problems"][:20]:
            log("check failed: " + p)
        for o in res["ops"]:
            if not o["ok"]:
                log(f"op failed: {o['name']}: {o['err']}")
        for rnd in sorted({o["round"] for o in res["warm_ops"] + res["ops"]}):
            log(f"round {rnd} op ms: " + ", ".join(
                f"{o['name']} {o['ms']:.0f}"
                for o in res["warm_ops"] + res["ops"] if o["round"] == rnd))
        lat = [o["ms"] for o in res["ops"] if o["ok"]]
        p = stats.tail_percentile(len(lat))
        log(f"{len(lat)} timed calls; highest percentile with 10 beyond: " +
            (f"p{p:g} = {stats.percentile(lat, p):.0f} ms" if p
             else "none (fewer than 20 calls)"))
        log(f"set-up {gen_s:.1f} s generation + "
            f"{(res['session_ms'] - res['launch_ms']) / 1000:.1f} s session + "
            f"{(res['setup_end_ms'] - res['session_ms']) / 1000:.1f} s warm-up; "
            f"rounds {[round(r['wall_s'], 2) for r in res['rounds']]}; "
            f"{len(res['rounds'])} rounds; {len(res['ops'])} ops; "
            f"checks {time.time() - t_check:.1f} s")
        if a.trace:
            trace = stats.load_trace(os.path.join(run_dir, "trace.json"), res)
            tdir = os.path.join(work, "traces")
            os.makedirs(tdir, exist_ok=True)
            tpath = os.path.join(tdir, f"{a.workload}-{a.seed}.json")
            with open(tpath, "w") as f:
                json.dump(trace, f)
            log(f"trace written to {tpath}")
            metrics = stats.layer_metrics(trace, facts, res)
        else:
            metrics = stats.end_to_end(res, gen_s, verdict)
        attempted = len(res["ops"])
        failed_ops = sum(1 for o in res["ops"] if not o["ok"])
        failed = min(attempted, failed_ops + verdict["wrong"])
        out = {"correct": failed == 0, "attempted": attempted,
               "failed": failed, "metrics": metrics}
    finally:
        jlog = os.path.join(run_dir, "jvm.log")
        if os.path.exists(jlog):
            shutil.copy(jlog, os.path.join(work, f"last-{a.workload}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
