#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the harness and the program from source
(sbt, offline) into perfbench/target and generates the base tables under
.bench_build/data. Each run then starts one JVM (perfbench.Main) on
local[nproc], measures for --seconds seconds, checks the program's outputs
against the DuckDB oracles with tools/check.py, and prints a run record line
followed, on the last line, by the result JSON. With --trace 0 the result
holds the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer
ones. The exit code is non-zero when the gate fails or the run is invalid.
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
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
OFFLINE_SBT = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources():
    files = [p for d in ("src/main", "perfbench/src") for p in
             glob.glob(os.path.join(ROOT, d, "**", "*"), recursive=True) if os.path.isfile(p)]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return files


def build():
    """Compile harness + program once per source digest; return the classpath."""
    stamp = digest(sources())
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["digest"] == stamp:
            return saved["classpath"], stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    env["SBT_OPTS"] = " ".join([opts] + [o for o in OFFLINE_SBT if o.split("=")[0] not in opts]).strip()
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=600)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        with open(log, "a") as lf:
            lf.write(r.stdout)
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        json.dump({"digest": stamp, "classpath": lines[-1]}, f)
    return lines[-1], stamp


def base_tables(sf):
    gen = os.path.join(BENCH, "gen_data.py")
    d = os.path.join(OUT, "data", f"sf{sf}-{digest([gen])}")
    if not os.path.isdir(d):
        subprocess.run([sys.executable, gen, d, str(sf)], check=True)
    return d


def run_jvm(cp, args, work, log):
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(nproc() or os.cpu_count()),
               SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        # the JVM runs in its own process group: take it down with us
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: (stop(), sys.exit(1)))
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            return -1


def nproc():
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True).stdout.strip())
    except (OSError, ValueError):
        return None


def gate(sf_dir, gate_dir, oracles):
    """DuckDB oracle compare of every dump, through tools/check.py as is.
    Returns the names that failed and a content hash per dump."""
    with open(os.path.join(gate_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf_dir,
                        gate_dir] + sorted(oracles), capture_output=True, text=True, cwd=ROOT)
    ok = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("OK ")}
    bad = sorted(set(oracles) - ok)
    for ln in r.stdout.splitlines():
        if ln.startswith(("FAIL", "   ")):
            print(f"perfbench gate: {ln}", file=sys.stderr)
    return bad, dump_hashes(gate_dir, oracles)


def dump_hashes(gate_dir, names):
    import duckdb
    out = {}
    con = duckdb.connect()
    for n in sorted(names):
        try:
            rows = con.execute(f"SELECT * FROM '{gate_dir}/{n}/*.parquet'").fetchall()
            out[n] = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
        except duckdb.Error:
            out[n] = None
    return out


def layer_self_ms(spans_file):
    """Self time summed per layer over the traced run's spans."""
    out = {}
    with open(spans_file) as f:
        for line in f:
            s = json.loads(line)
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["self_ms"]
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           cwd=ROOT, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: smaller base tables, kept work dir
    ap.add_argument("--sf", type=float)
    ap.add_argument("--keep-work", action="store_true")
    a = ap.parse_args()

    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    for need in ("BENCHMARK.json", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}")
    wl = workloads[a.workload]
    os.makedirs(OUT, exist_ok=True)
    cp, src_digest = build()
    sf = a.sf if a.sf is not None else wl["sf"]
    sf_dir = base_tables(sf)

    work = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "gate"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", sf_dir, "--work", work]
    params = dict(wl["params"], fixtures_dir=os.path.join(OUT, "fixtures", f"{os.path.basename(sf_dir)}-{src_digest}"))
    for k, v in params.items():
        args += ["--param", f"{k}={v}"]
    log = os.path.join(work, "jvm.log")
    t_jvm = time.monotonic()
    rc = run_jvm(cp, args, work, log)
    t_gate = time.monotonic()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload JVM exited with {rc}", 3)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    bad, hashes = gate(sf_dir, os.path.join(work, "gate"), res["gate"])
    print(f"perfbench: jvm {t_gate - t_jvm:.1f}s, gate {time.monotonic() - t_gate:.1f}s",
          file=sys.stderr)
    failed = res["failed"] + sum(res["gate_ops"].get(n, 0) for n in bad)
    attempted = max(res["attempted"], 1)
    valid = res["record"].get("sustainable", True)

    if a.trace:
        # a layer the workload does not reach did no work: 0
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if res["e2e"].get(m["name"]) is None]
        if missing:
            fail(f"no value for {missing}", 3)
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record = dict(
        workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace, sf=sf,
        cpus=nproc(), loadavg_start=loadavg, git_commit=git_commit(), source_digest=src_digest,
        params=wl["params"], failed_ratio=failed / attempted, gate_failed=bad,
        gate_hashes=hashes, spark_parallelism=res["record"].pop("cpus"), **res["record"])
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}")
    if a.trace:
        record["layers"] = res["layers"]
        record["layer_self_ms"] = layer_self_ms(os.path.join(work, "spans.jsonl"))
        record["spans_file"] = os.path.relpath(stem + ".spans.jsonl", ROOT)
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    else:
        record["e2e"] = res["e2e"]
    with open(stem + ".json", "w") as f:
        json.dump(record, f)
    if not a.keep_work:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench record: " + json.dumps(record))
    if not valid:
        fail("live phase over its sustainable rate (backlog grew); freshness not valid", 4)
    print(json.dumps({"correct": not bad and res["failed"] == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if bad or res["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
