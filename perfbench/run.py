#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload medallion|registry \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (offline) into `target/` and `perfbench/target/`; later
runs reuse the build while no source file changed. Each run generates its
inputs from the seed, runs the workload in one JVM at
local[SPARK_GRAFT_CPUS] (default: the CPUs this process may use), checks
every output, and prints one JSON line last on stdout. Everything it writes
goes under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # every run must end within 180 s (build runs excepted)
BUILD_TIMEOUT_S = 800
GEN_REPEATS = 3  # set-up is generated this many times; the median counts

# Input sizes, one line per workload; see README.md for why each exists.
MEDALLION = dict(batches=4, batch_size=8000)
REGISTRY = dict(orders=5000, events_n=3000, docs=200, vecs=200)
REGISTRY_DATA_SEED = 42  # tables are fixed; the run seed only orders queries

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.stdout.flush()
    os._exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += sorted(os.path.join(base, f) for f in os.listdir(base)
                        if f.endswith((".sbt", ".properties", ".scala")))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += sorted(os.path.join(d, f) for f in fs)
    return files


def build():
    """sbt-compile graft and the harness; returns the runtime classpath."""
    fp = hashlib.sha256()
    for f in source_files():
        fp.update(f.encode())
        with open(f, "rb") as fh:
            fp.update(fh.read())
    fp = fp.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(fp + "\n" + lines[-1])
    return lines[-1]


def generate(workload, seed, data):
    sys.path.insert(0, HERE)
    import gen
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    if workload == "medallion":
        gen.medallion(f"{data}/medallion", seed, **MEDALLION)
    else:
        gen.star_schema(f"{data}/registry/sf", REGISTRY_DATA_SEED, **REGISTRY)
        with open(os.path.join(HERE, "registry.json")) as fh:
            queries = json.load(fh)["queries"]
        random.Random(seed).shuffle(queries)
        with open(f"{data}/registry/order.json", "w") as fh:
            json.dump(queries, fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    graft_src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not (os.path.isdir(graft_src) and os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.exists(bench_json)):
        fail(f"{ROOT} is not a graft checkout (no build.sbt, graft sources "
             "or BENCHMARK.json)")
    with open(bench_json) as fh:
        spec = json.load(fh)
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    deadline = time.time() + DEADLINE_S

    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    data = os.path.join(BUILD, "data", run_id)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        generate(a.workload, a.seed, data)
        gen_s.append(time.perf_counter() - t0)

    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as fh:
        kb = int(next(l.split()[1] for l in fh if l.startswith("MemTotal:")))
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{min(8, max(2, kb // 2097152))}g"
    # graft's own runs set -Xmx only. The fixed young generation is the
    # benchmark's choice: under G1's adaptive sizing, peak RSS varied by
    # about a quarter between runs of the same code, as much as its bound
    cmd = (["java", f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--work", work,
              "--out", out])
    log_path = os.path.join(BUILD, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    launched = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{a.workload} did not finish in time; see {log_path}")
    if rc != 0 or not os.path.exists(out):
        fail(f"{a.workload} exited {rc}; see {log_path}")
    with open(out) as fh:
        res = json.load(fh)
    shutil.copy(out, os.path.join(BUILD, "logs", run_id + ".result.json"))
    if a.trace:
        shutil.copy(out + ".spans.json",
                    os.path.join(BUILD, "logs", run_id + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)

    m = dict(res["metrics"])
    setup = {"setup.generate_s": statistics.median(gen_s),
             "setup.session_s": res["session_ms"] / 1e3 - launched,
             "setup.fixtures_s": (res["fixtures_ms"] - res["session_ms"]) / 1e3,
             "setup.warmup_s": (res["ready_ms"] - res["fixtures_ms"]) / 1e3}
    m["setup_s"] = sum(setup.values())
    m.update(setup)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]}
               for x in wanted}
    for problem in res["mismatches"]:
        print(f"perfbench: output check failed: {problem}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: {len(res['pass_s'])} passes; set-up "
          + ", ".join(f"{k[6:]} {v:.1f} s" for k, v in setup.items())
          + f"; {time.time() - start:.1f} s in all", file=sys.stderr)
    print(json.dumps({"correct": not res["mismatches"] and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.stdout.flush()
    os._exit(0)  # skip interpreter teardown: pyarrow can abort there


if __name__ == "__main__":
    main()
