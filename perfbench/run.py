#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <cdc_ingest|llm_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline; the classpath and the root
build's JVM options are cached in .bench_build/ until a source changes).
Each run then gets a private scratch root under .bench_run/
(java.io.tmpdir, Spark local dirs, the generated inputs and the stores),
deleted at exit. The JVM sets up the workload, times whole rounds of ops
for --seconds, checks every answer against its own model, and writes its
figures; this script then has tools/check.py compare the answers that
need DuckDB (the LLM operator keys) and prints one JSON object: correct,
attempted, failed and the metrics (end-to-end with --trace 0, per-layer
with --trace 1). Traced runs also leave their spans as JSON lines in
.bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
RUN_DIR = ".bench_run"
OUT_DIR = ".bench_out"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build: a change to any rebuilds."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile with sbt unless the sources are unchanged; return the
    classpath and the root build's JVM options."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    launch = os.path.abspath(os.path.join(BUILD_DIR, "launch"))
    stamp = source_stamp(root)
    fresh = False
    if os.path.exists(stamp_file) and os.path.exists(launch):
        with open(stamp_file) as f:
            fresh = f.read() == stamp
    if not fresh:
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Dperfbench.launch={launch}", "compile", "benchLaunch"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if p.returncode != 0 or not os.path.exists(launch):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def run_jvm(cp, jvm_opts, args, scratch, spans):
    result = os.path.join(scratch, "result.json")
    # two task slots: Spark's code generator and the JIT compile through
    # every op (jvm.jit_s exceeds the timed region), and the cores left to
    # them keep task threads from contending with the compiler threads
    cpus = min(2, os.cpu_count() or 1)
    cmd = (["java"] + jvm_opts
           # after the root build's options, so these win: a heap that
           # leaves room on a shared host, and private scratch dirs
           + ["-Xmx3g", f"-Djava.io.tmpdir={scratch}/tmp",
              f"-Dspark.local.dir={scratch}/spark-local",
              f"-Dspark.sql.warehouse.dir={scratch}/warehouse", "-cp", cp,
              "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--root", scratch, "--out", result,
              "--spans", spans])
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(result) as f:
        return json.load(f)


# ---- answers compared with DuckDB by tools/check.py ----

def check_py(root, sf, out, keys):
    """Run tools/check.py on the keys; return (exit code, failed keys,
    its output)."""
    p = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), sf, out]
        + keys, capture_output=True, text=True, timeout=120)
    bad = [k for k in keys
           if any(l.startswith(f"[FAIL] {k}:") for l in p.stdout.splitlines())]
    return p.returncode, bad, p.stdout


def corrupt(tb):
    """The same table with one cell changed, for the checker's self-test."""
    import pyarrow as pa
    for i, c in enumerate(tb.column_names):
        vals = tb.column(c).to_pylist()
        if not vals:
            continue
        v = vals[0]
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, (int, float)):
            vals[0] = v + 1
        elif isinstance(v, str):
            vals[0] = v + "x"
        else:
            continue
        return tb.set_column(i, c, pa.array(vals, type=tb.schema.field(c).type))
    return None


def self_test(root, sf, out, key):
    """check.py must fail one corrupted copy of a right answer."""
    import pyarrow.parquet as pq
    bad = corrupt(pq.read_table(sorted(glob.glob(f"{out}/{key}/*.parquet"))))
    if bad is None:
        return False
    st = os.path.join(out, "_selftest")
    os.makedirs(os.path.join(st, key))
    pq.write_table(bad, os.path.join(st, key, "part-0.parquet"))
    shutil.copy(os.path.join(out, "oracle_sql.json"), st)
    code, failed, _ = check_py(root, sf, st, [key])
    return code == 1 and failed == [key]


def duck_check(root, item):
    """Compare every key's answer with DuckDB; return (failed ops, errors,
    self-test ok)."""
    if item is None:
        return 0, [], True
    ops = item["ops"]
    code, bad, stdout = check_py(root, item["sf"], item["out"], sorted(ops))
    if code not in (0, 1):
        fail("tools/check.py failed:\n" + stdout[-2000:])
    errors = [l for l in stdout.splitlines() if l.startswith("[FAIL]")]
    good = [k for k in sorted(ops) if k not in bad]
    ok = bool(good) and self_test(root, item["sf"], item["out"], good[0])
    return sum(ops[k] for k in bad), errors, ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_ingest", "llm_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program's sources "
             "(src/main/scala/graft) are not here")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, jvm_opts = build(root)

    scratch = os.path.abspath(os.path.join(
        RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"))
    spans = os.path.abspath(os.path.join(
        OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
    try:
        shutil.rmtree(scratch, ignore_errors=True)
        for d in ("tmp", "spark-local", "work"):
            os.makedirs(os.path.join(scratch, d))
        os.makedirs(OUT_DIR, exist_ok=True)
        res = run_jvm(cp, jvm_opts, args, scratch, spans)
        dfailed, derrors, dself = duck_check(root, res["duck"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(RUN_DIR)
        except OSError:
            pass

    failed = res["failed"] + dfailed
    errors = res["errors"] + derrors
    correct = bool(res["correct"]) and dself
    if not dself:
        errors.append("self-test: tools/check.py passed a corrupted answer")
    kind = "per_layer" if args.trace else "end_to_end"
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "rounds": res["rounds"],
              "phases": res["phases"], "op_s": res["op_s"],
              "op_kind": res["op_kind"],
              "e2e": res["e2e"], "errors": errors[:5]}
    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
