"""The repo benchmark. Run from the repository root:

    python3 perfbench/run.py --workload ivm_churn --seed 1 --seconds 13 --trace 0

Builds the engine and harness from source (build.py), generates the
workload's inputs from the seed (gen.py), runs one JVM that sets up three
times and then runs a fixed number of rounds of the workload's closed loop
(src/Main.scala), checks the answers, and prints one JSON line as the last
line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.

Every run is also recorded raw, with its machine and input stamp, under
.bench_build/perfbench/results/. --seconds is accepted and recorded but
does not set the run's length: every commit must run the same work, so a
run measures a fixed number of rounds (README.md, "What one run does").
See perfbench/README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

# Input sizes per workload. They are bounded by the benchmark's time budget:
# every run must build a session three times and still finish in well
# under a minute on a 4-core machine (README.md, "Sizes").
SIZES = {
    "ivm_churn": dict(tables=["customer", "orders", "lineitem"], customers=500,
                      suppliers=100, parts=2000, orders=4000),
    "curate_serve": dict(tables=["documents", "embeddings"], docs=5000, vectors=2000),
}
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def inputs(workload, seed):
    """Generates (once per seed and generator version) the workload's inputs."""
    spec = dict(SIZES[workload])
    tables = spec.pop("tables")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read() + repr(SIZES[workload]).encode()).hexdigest()[:12]
    data = os.path.join(OUT, "data", f"{workload}-s{seed}-{version}")
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, seed, tables, **spec)
        open(os.path.join(data, ".done"), "w").close()
    return data


def run_jvm(classes, workload, seed, trace, data, work):
    jars = build.spark_jars()
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", "1" if trace else "0",
            "--data", data, "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def input_stamp(data):
    """Row count and bytes of every generated input table."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
        out[os.path.basename(p)[:-len(".parquet")]] = {"rows": rows, "bytes": os.path.getsize(p)}
    con.close()
    return out


def machine():
    cpu = ""
    if os.path.exists("/proc/cpuinfo"):
        with open("/proc/cpuinfo") as f:
            cpu = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "")
    mem = 0
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            mem = int(next(l.split()[1] for l in f if l.startswith("MemTotal"))) * 1024
    return {"nproc": os.cpu_count(), "cpu": cpu, "mem_bytes": mem, "heap": HEAP}


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in SIZES:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(OUT, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = cpu_times()
        res = run_jvm(classes, a.workload, a.seed, a.trace, data, work)
        t1 = cpu_times()
        # share of CPU time the hypervisor gave to other guests during the run
        steal = (t1[0] - t0[0]) / max(1, t1[1] - t0[1]) if t0 and t1 else None
        failed, bites = res["failed"], res["checks_bite"]
        if not bites:
            print("perfbench: a check accepted a corrupted answer", file=sys.stderr)
        got = res["metrics"]
        if set(got) != {m["name"] for m in wanted}:
            raise SystemExit(f"perfbench: metric names differ from BENCHMARK.json: "
                             f"{sorted(set(got) ^ {m['name'] for m in wanted})}")
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
        result = {"correct": failed == 0 and bites, "attempted": res["attempted"],
                  "failed": failed, "metrics": metrics}
        raw = dict(res, result=result, machine=dict(machine(), steal_frac=steal),
                   inputs=input_stamp(data),
                   git_commit=git_commit(),
                   source_digest=os.path.basename(classes).split("-", 1)[1],
                   argv=sys.argv[1:], time=time.time())
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
        with open(os.path.join(OUT, "results", f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}"
                               f"-{os.getpid()}.json"), "w") as f:
            json.dump(raw, f, indent=1)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(OUT, "results", f"{stamp}-{a.workload}-s{a.seed}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
