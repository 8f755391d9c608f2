#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload graph-sf0.1 --seed 1 --seconds 24 --trace 0

Steps: build the engine and the driver from source (once per checkout),
generate the seeded inputs (cached per seed and scale), run the driver
JVM in a fresh working directory, check the query outputs against their
DuckDB oracles, and print one JSON object as the last line of stdout.
Everything it writes stays under `.perfbench/` and `perfbench/target/`
in the checkout. See perfbench/README.md for workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import check  # noqa: E402
import gen  # noqa: E402

MEASURED_SCALE = 1.0   # sf0.1 row counts
CHECK_SCALE = 0.02     # 300 customers, 100 documents: warm-up and full oracle check
JVM_TIMEOUT_S = 170  # a run must end within 180 s

# Sized so that a run (set-up, check pass, three passes) takes about a
# minute; README.md lists what was left out and why.
WORKLOADS = {
    "graph-sf0.1": dict(
        queries=["g_density", "g_hopplot", "g_eff_diameter", "g_pagerank"],
        # the oracle cheap enough to run on the measured input every run
        real_check=["g_density"],
        tables=["orders", "customer", "supplier", "nation"]),
    "curate-sf0.1": dict(
        queries=["d_dedup_ppjoin", "t_warc_parse_batch", "t_html_extract_batch"],
        real_check=[],
        tables=["documents"]),
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compiles engine + driver with sbt once per source state; returns the classpath."""
    bdir = os.path.join(state, "build")
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        cp_file = os.path.join(bdir, "classpath")
        stamp_file = os.path.join(bdir, "stamp")
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        tmp = os.path.join(state, "tmp")
        os.makedirs(tmp, exist_ok=True)
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=800)
        lines = [x for x in p.stdout.splitlines() if x.strip()]
        if p.returncode != 0 or not lines or "[" in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(cp_file, "w") as fh:
            fh.write(lines[-1].strip())
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"build: {time.time() - t0:.1f}s")
        return lines[-1].strip()


def inputs(state, scale, seed):
    d = os.path.join(state, "data", f"scale{scale}-seed{seed}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        with open(os.path.join(os.path.dirname(d), "lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.isdir(d):
                t0 = time.time()
                rows = gen.generate(d, scale, seed)
                print(f"generate: scale {scale} seed {seed}: {rows} rows in "
                      f"{time.time() - t0:.2f}s")
    return d


def table_rows(d, tables):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
               for t in tables)


def cpu_counters():
    """(busy+idle+... total jiffies, steal jiffies, cgroup throttled usec)."""
    total = steal = 0
    try:
        f = open("/proc/stat").readline().split()[1:]
        vals = [int(x) for x in f]
        total, steal = sum(vals[:8]), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError):
        pass
    thr = -1
    for path in ["/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat"]:
        try:
            for line in open(path):
                k, v = line.split()
                if k == "throttled_usec":
                    thr = int(v)
                elif k == "throttled_time":
                    thr = int(v) // 1000
            break
        except (OSError, ValueError):
            continue
    return total, steal, thr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout that holds the engine sources")
    w = WORKLOADS[a.workload]
    state = os.path.join(root, ".perfbench")
    load1 = float(open("/proc/loadavg").read().split()[0])
    c0 = cpu_counters()
    classpath = build(root, state)
    data = inputs(state, MEASURED_SCALE, a.seed)
    check_data = inputs(state, CHECK_SCALE, a.seed)

    work = os.path.join(state, "work", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result_file = os.path.join(work, "result.json")
        spans_file = os.path.join(state, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        cmd = (["java", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dspark.local.dir=" + os.path.join(work, "tmp"),
                "-Dderby.system.home=" + work,
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.perfbench.Main",
                  "--queries", ",".join(w["queries"]), "--data", data,
                  "--check-data", check_data, "--check-out", os.path.join(work, "out"),
                  "--real-check", ",".join(w["real_check"]),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--out", result_file,
                  "--tables", ",".join(w["tables"]),
                  "--spans", spans_file])
        t_jvm = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = -9
        print(f"driver jvm: {time.time() - t_jvm:.2f}s")
        log_text = open(os.path.join(work, "jvm.log")).read()
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(log_text[-4000:])
            fail(f"driver exited with {rc}")
        r = json.load(open(result_file))
        sys.stderr.write("".join(x + "\n" for x in log_text.splitlines()
                                 if x.startswith("[perfbench")))

        # correctness: every query on the check input, the oracles cheap
        # enough for the measured input on that input too
        oracles = r["oracles"]
        bad = dict(r["failed"])
        t0 = time.time()
        for sub, d, qs in [("check", check_data, w["queries"]), ("real", data, w["real_check"])]:
            for q in qs:
                if f"{sub}/{q}" not in bad:
                    why = check.compare(d, oracles[q], os.path.join(work, "out", sub, q))
                    if why:
                        bad[f"{sub}/{q}"] = why
        print(f"oracle check: {time.time() - t0:.2f}s")
        for k, v in bad.items():
            print(f"FAILED {k}: {v}")
        attempted = r["attempted"]
        c1 = cpu_counters()
        dj = max(1, c1[0] - c0[0])
        host = {"nproc": os.cpu_count(), "cores_used": r["cores"], "load1": load1,
                "steal_pct": round(100.0 * (c1[1] - c0[1]) / dj, 3),
                "throttled_ms": (c1[2] - c0[2]) / 1000 if c0[2] >= 0 else -1,
                "job_rt_ms": round(r["job_rt_ms"], 3)}
        print("host " + json.dumps(host))
        print("samples " + json.dumps(r["samples"]))
        print("query_counts " + json.dumps(r["query_counts"]))

        e2e = r["end_to_end"]
        e2e["input_rows_per_s"] = table_rows(data, w["tables"]) / e2e["pass_s"]
        print(f"failed_frac {len(bad) / attempted:.6f} ({len(bad)} of {attempted})")
        # the metric names and units are the ones BENCHMARK.json declares
        declared = json.load(open(os.path.join(root, "BENCHMARK.json")))
        values = r["per_layer"] if a.trace else e2e
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in declared["per_layer" if a.trace else "end_to_end"]}
        print(json.dumps({"correct": not bad, "attempted": attempted,
                          "failed": len(bad), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
