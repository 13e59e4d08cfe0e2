#!/usr/bin/env python3
"""Benchmark of the workload analyzer's collect -> extract -> analyze ->
report lifecycle, timed end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the product and
the driver (perfbench/build.py); every run then starts one JVM with Spark in
local mode, sets up the workload's inputs from the seed, warms up, and runs
closed-loop passes for S seconds. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics; the spans of a traced run are written to
.bench_build/traces/. Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("daily_report", "backfill")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seed < 0:
        sys.exit("--seed must be >= 0")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    logs = build.BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    with open(logs / "build.log", "a") as log:
        build.build(log)

    work = build.BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # C1 only: a run times one JIT-cold pass, and tiered C2 compilation
    # spends 70–90 CPU-s of it on compiler threads that contend with
    # the tasks for the cores (perfbench/README.md, "JIT")
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    err_path = logs / f"{a.workload}-{a.seed}-t{a.trace}.stderr"
    with open(err_path, "w") as err:
        # Spark binds to loopback whatever the host name resolves to
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"run exceeded {RUN_TIMEOUT_S} s; see {err_path}")
    shutil.rmtree(work, ignore_errors=True)
    (logs / f"{a.workload}-{a.seed}-t{a.trace}.stdout").write_text(out)
    lines = [l[len("PERFBENCH "):] for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        tail = err_path.read_text().splitlines()[-30:]
        sys.exit("driver failed (exit %d):\n%s" % (proc.returncode, "\n".join(tail)))
    r = json.loads(lines[-1])

    source = r["per_layer" if a.trace == "1" else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        sys.exit(f"driver reported no value for {missing}")
    if a.trace == "1":
        traces = build.BUILD / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(
            {k: r[k] for k in ("workload", "seed", "machine", "per_layer", "spans")}, indent=1))
    print(json.dumps({
        "workload": r["workload"], "seed": r["seed"],
        "digest": r["digest"], "problems": r["problems"], "machine": r["machine"],
        "e2e_s_per_pass": r["e2e_s_per_pass"], "setup_s_per_repeat": r["setup_s_per_repeat"]}))
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
