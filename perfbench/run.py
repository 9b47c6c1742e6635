#!/usr/bin/env python3
"""perfbench: seeded closed-loop benchmark of the graft library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ztf_pipeline --seed 1 --seconds 30 --trace 0

Builds the library and the benchmark client from source (sbt, offline)
on first use, generates the workload's inputs from the seed, starts a
fresh JVM that runs the workload's ops back to back, checks every op
output against its DuckDB oracle (or, for lakehouse_rw, a model of the
table), and prints one JSON line with the metrics named in
BENCHMARK.json: the end-to-end set with --trace 0, the per-layer set
with --trace 1. Everything it writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep the checkout clean
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import gen  # noqa: E402

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
FINGERPRINT_SRC = os.path.join(BENCH_DIR, "src", "main", "scala", "perfbench",
                               "Fingerprint.scala")
GEN_REPEATS = 3
DEADLINE_S = 170  # the whole run, build excluded


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles library + client once per source state; returns the
    runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def generate(workload, seed, work):
    """Generates the inputs GEN_REPEATS times (median time is the
    generate share of setup_s); every repeat must be byte-identical."""
    times, digests, report = [], [], None
    for i in range(GEN_REPEATS):
        d = os.path.join(work, "data" if i == 0 else f"data-repeat{i}")
        t0 = time.perf_counter()
        report = gen.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for t in sorted(report):
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        digests.append(h.hexdigest())
        if i:
            shutil.rmtree(d)
    return os.path.join(work, "data"), report, statistics.median(times), len(set(digests)) == 1


def run_oracle(sql_path, data_dir, cache_root, workload, seed):
    """Runs each op's oracle SQL in DuckDB over the generated tables and
    returns the directory holding <op>.parquet. Results are cached per
    (oracle SQL, generator, variant): seeds of one variant differ only in
    row order, which no result depends on. The JVM caches each result's
    fingerprint beside it as <op>.fp, so the fingerprint code is in the
    key too. perfbench/oracle/<key>/ ships those .fp files for the
    current key, so a fresh checkout does not pay DuckDB's minutes."""
    import duckdb
    with open(sql_path, "rb") as f:
        raw = f.read()
    key = hashlib.sha256(raw + f"{workload}/{gen.variant_of(seed)}".encode())
    for p in (gen.__file__, FINGERPRINT_SRC):
        with open(p, "rb") as f:
            key.update(f.read())
    name = key.hexdigest()[:24]
    shipped = os.path.join(BENCH_DIR, "oracle", name)
    if os.path.isdir(shipped):
        return shipped
    out_dir = os.path.join(cache_root, name)
    if os.path.isdir(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen.TABLES[workload]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for op, sql in sorted(json.loads(raw).items()):
        con.execute(f"COPY ({sql}) TO '{tmp}/{op}.parquet' (FORMAT PARQUET)")
    con.close()
    os.rename(tmp, out_dir)
    return out_dir


def steal_jiffies():
    """(total, steal) jiffies from /proc/stat; None where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(args, classpath, data_dir, work, cache_root):
    # a fixed-size heap under the throughput collector: fewer GC threads
    # competing with the 4 task threads, and no heap resizing mid-pass
    cmd = (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), data_dir, work])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    oracle_s = 0.0
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=log, text=True, bufsize=1)
        timer = threading.Timer(DEADLINE_S, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("@@ORACLE "):
                    t0 = time.perf_counter()
                    try:
                        reply = "@@GO " + run_oracle(line.split(" ", 1)[1].strip(), data_dir,
                                                     cache_root, args.workload, args.seed)
                    except Exception as e:  # reported through the JVM's exit
                        reply = f"@@FAIL {e}".replace("\n", " ")
                    oracle_s = time.perf_counter() - t0
                    proc.stdin.write(reply + "\n")
                    proc.stdin.flush()
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), oracle_s


def seed_arg(v):
    n = int(v)
    if n < 0:  # the generator's seed sequences take non-negative seeds
        raise argparse.ArgumentTypeError("must be >= 0")
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=seed_arg, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(BENCH_DIR)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail(f"no graft library sources next to {BENCH_DIR}; run from a full checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data_dir, inputs, generate_s, deterministic = generate(args.workload, args.seed, work)

    stat0 = steal_jiffies()
    t_jvm = time.perf_counter()
    res, duck_s = run_jvm(args, classpath, data_dir, work,
                          os.path.join(build_dir, "oracle-cache"))
    jvm_s = time.perf_counter() - t_jvm
    stat1 = steal_jiffies()
    steal = (100.0 * (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0])
             if stat0 and stat1 else None)

    # DuckDB's own time is the benchmark's verification cost, cached
    # per variant, so it is reported but kept out of setup_s
    setup = {"setup.session_s": res["setup"]["session_s"],
             "setup.generate_s": generate_s,
             "setup.oracle_s": res["setup"]["oracle_jvm_s"]}
    e2e = dict(res["e2e"], setup_s=sum(setup.values()))
    setup["setup.oracle_duckdb_s"] = duck_s
    metrics = dict(res["per_layer"], **setup) if args.trace else e2e
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0) or 0.0), "unit": m["unit"]}
           for m in wanted}

    correct = res["failed"] == 0 and deterministic
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "inputs": inputs, "inputs_deterministic": deterministic,
              "window": dict(res["window"], steal_pct=steal, jvm_wall_s=jvm_s,
                             check_s=res["setup"]["check_s"]),
              "setup": setup, "e2e": e2e,
              "per_layer": res["per_layer"], "passes": res["passes"],
              "failures": res["failures"]}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("report " + json.dumps({k: report[k] for k in
                                  ("inputs", "window", "setup", "e2e", "failures")}))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()
