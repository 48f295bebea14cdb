#!/usr/bin/env python3
"""Repository benchmark: builds the engine from source, runs one workload and
prints every metric by name with its unit, then one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest|dashboard|batch --seed N
                           --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

With --trace 0 the JSON line carries the `end_to_end` metrics of
BENCHMARK.json; with --trace 1 it carries the `per_layer` metrics and the
run's spans are kept under .bench_build/traces/. perfbench/DESIGN.md records
why each workload and metric exists.

Environment:
  SPARK_DRIVER_MEM     JVM heap, committed at start-up (default 2g)
  SPARK_GRAFT_SCRATCH  directory for the run's store, checkpoints and Spark
                       scratch (default .bench_build/run inside the checkout)
  PERFBENCH_SF_DIR     fixture for the batch workload
                       (default ~/testdata/sf0.01)
"""
import argparse, glob, hashlib, importlib.util, json, os, shutil, subprocess
import sys, time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ["ingest", "dashboard", "batch"]
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")
JVM_TIMEOUT_S = 160
# Memory the run may plan to use: heap, JVM overhead and any tmpfs scratch
# together must stay under this share of physical RAM.
RAM_BUDGET_SHARE = 0.6
JVM_OVERHEAD_GB = 1.0
SCRATCH_PLAN_GB = 1.0
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def classpath(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(SPARK_JARS, "*")])


def scalac(out, files, cp_dirs=()):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out]
    if cp_dirs:
        cmd += ["-classpath", os.pathsep.join(cp_dirs)]
    r = subprocess.run(cmd + files, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        die("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(with_tests=False):
    """Compile the engine and the benchmark once per source state."""
    main = scala_files(MAIN_SRC)
    if not main:
        die(f"no engine sources under {MAIN_SRC}")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    bench = scala_files(BENCH_SRC)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    engine, harness = (os.path.join(BUILD, f"classes-{key}", p)
                       for p in ("engine", "bench"))
    done = os.path.join(BUILD, f"classes-{key}", "ok")
    if not os.path.exists(done):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        scalac(engine, main)
        scalac(harness, bench, [engine])
        open(done, "w").close()
        print(f"build {time.time() - t0:.1f}s", file=sys.stderr, flush=True)
    dirs = [harness, engine]
    if with_tests:
        tests = os.path.join(BUILD, f"classes-{key}", "test")
        scalac(tests, scala_files(TEST_SRC), dirs)
        dirs = [tests] + dirs
    return dirs


def meminfo_gb(field):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1048576
    return 0.0


def heap_gb(spec):
    n, unit = float(spec[:-1]), spec[-1].lower()
    return n * {"g": 1, "m": 1 / 1024, "k": 1 / 1048576}[unit]


def fs_type(path):
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and \
                    len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def write_mbps(d):
    """Sequential 64 MB write with fsync into the scratch directory."""
    p = os.path.join(d, "hwfp.bin")
    buf = os.urandom(1 << 20)
    t0 = time.time()
    with open(p, "wb") as f:
        for _ in range(64):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    dt = time.time() - t0
    os.remove(p)
    return 64 / dt


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def shm_used_mb():
    try:
        st = os.statvfs("/dev/shm")
        return (st.f_blocks - st.f_bfree) * st.f_frsize / 1048576
    except OSError:
        return -1.0


def load_spec():
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(p):
        die("BENCHMARK.json not found at the repository root")
    with open(p) as f:
        return json.load(f)


def oracle_check(sf_dir, verify_dir):
    """Compare each batch query's result with its DuckDB oracle, by the
    rules of tools/check_oracle.py. Returns {query: status}."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = co.connect(sf_dir, "2GB", tmp=os.path.join(verify_dir, "duck-tmp"))
    con.execute("SET threads=2")
    out = {}
    for name in sorted(os.listdir(verify_dir)):
        if os.path.isdir(os.path.join(verify_dir, name)) and name in oracles:
            out[name] = co.check_one(con, verify_dir, name, oracles)
    con.close()
    return out


def run_one(args, spec, classes):
    heap = os.environ.get("SPARK_DRIVER_MEM", "2g")
    scratch_root = os.environ.get("SPARK_GRAFT_SCRATCH", os.path.join(BUILD, "run"))
    work = os.path.join(os.path.abspath(scratch_root),
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    # resource guard: heap + JVM overhead + planned tmpfs scratch vs budget
    mem = meminfo_gb("MemTotal")
    fst = fs_type(work)
    tmpfs_plan = SCRATCH_PLAN_GB if fst == "tmpfs" else 0.0
    need = heap_gb(heap) + JVM_OVERHEAD_GB + tmpfs_plan
    budget = RAM_BUDGET_SHARE * mem
    if need > budget:
        shutil.rmtree(work, ignore_errors=True)
        die(f"refusing to start: heap {heap} + {JVM_OVERHEAD_GB}g JVM overhead"
            f" + {tmpfs_plan}g tmpfs scratch = {need:.1f}g exceeds the RAM budget"
            f" {budget:.1f}g ({RAM_BUDGET_SHARE:.0%} of {mem:.1f}g)", 3)
    hw = {"cores": os.cpu_count(), "mem_total_gb": round(mem, 2), "heap": heap,
          "scratch": work, "scratch_fs": fst,
          "scratch_write_mbps": round(write_mbps(work), 1)}

    sf_dir = os.environ.get("PERFBENCH_SF_DIR",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *ADD_OPENS, "-cp", classpath(*classes), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out, "--sf", sf_dir]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
            t0, ticks0 = time.time(), cpu_ticks()
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
                hw["jvm_s"] = round(time.time() - t0, 1)
                ticks1 = cpu_ticks()
                # share of CPU time the hypervisor gave to other guests
                hw["cpu_steal_share"] = round((ticks1[0] - ticks0[0]) /
                                              max(1, ticks1[1] - ticks0[1]), 4)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.isfile(out):
            with open(log) as lf:
                tail = lf.read()[-3000:]
            die(f"{args.workload} run failed (rc={rc}):\n{tail}", 1)
        with open(out) as f:
            res = json.load(f)
        if args.workload == "batch":
            t0 = time.time()
            checks = oracle_check(sf_dir, os.path.join(work, "verify"))
            hw["oracle_s"] = round(time.time() - t0, 1)
            for name, status in checks.items():
                res["attempted"] += 1
                if not status.startswith("OK"):
                    res["failed"] += 1
                    kind = f"query.{name}"
                    res["fail_kinds"][kind] = res["fail_kinds"].get(kind, 0) + 1
                    res["fail_notes"].append(f"{kind}: oracle {status[:300]}")
            res["info"]["oracle_checked"] = str(len(checks))
        hw["spin_ms"] = float(res["info"].get("spin_ms", "nan"))
        if args.trace:
            # the run's record: fingerprint and run facts, then one span a line
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"),
                      "w") as f:
                f.write(json.dumps({"hwfp": hw, "info": res["info"]}) + "\n")
                with open(os.path.join(work, "trace.jsonl")) as spans:
                    shutil.copyfileobj(spans, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    hw["shm_used_mb_after"] = round(shm_used_mb(), 1)
    return res, hw


def report(args, spec, res, hw):
    attempted, failed = res["attempted"], res["failed"]
    err = failed / attempted if attempted else 1.0
    res["layers"]["error_rate"] = err
    w = args.workload
    print(f"[{w}] hwfp " + json.dumps(hw, sort_keys=True))
    print(f"[{w}] info " + json.dumps(res["info"], sort_keys=True))
    for k, v in res["e2e"].items():
        unit = next((m["unit"] for m in spec["end_to_end"] if m["name"] == k), "")
        print(f"[{w}] metric {k} = {v} {unit}")
    for k, v in res["named"].items():
        print(f"[{w}] metric {k} = {v['value']} {v['unit']}")
    print(f"[{w}] metric error_rate = {err} ratio ({failed} failed of {attempted})")
    if failed:
        print(f"[{w}] FAILING op kinds: " + json.dumps(res["fail_kinds"]))
        for n in res["fail_notes"]:
            print(f"[{w}]   {n}")
    print(f"[{w}] correct: {'yes' if failed == 0 else 'NO'}", flush=True)

    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in group:
        v = source.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        die(f"{w}: metrics not measured: {missing}", 1)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def selftest():
    classes = build(with_tests=True)
    r = subprocess.run(["java", "-Xmx1g", *ADD_OPENS, "-cp", classpath(*classes),
                        "perfbench.SelfTest"])
    return r.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        ap.error("--workload is required")
    spec = load_spec()
    classes = build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    lines = []
    for w in names:
        args.workload = w
        res, hw = run_one(args, spec, classes)
        lines.append(report(args, spec, res, hw))
    if len(lines) == 1:
        print(json.dumps(lines[0]), flush=True)
    else:
        print(json.dumps({
            "correct": all(l["correct"] for l in lines),
            "attempted": sum(l["attempted"] for l in lines),
            "failed": sum(l["failed"] for l in lines),
            "metrics": {f"{w}.{k}": v for w, l in zip(names, lines)
                        for k, v in l["metrics"].items()}}), flush=True)


if __name__ == "__main__":
    main()
