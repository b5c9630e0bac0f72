#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 bench/run.py --smoke [--seed <n>]

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (bench/build.sbt) into .bench_build/; later
calls reuse that build while the sources are unchanged. Each call runs one
JVM in a private directory under .bench_build/runs/ (its own java.io.tmpdir,
spark.local.dir, warehouse and Derby metastore), removes that directory at
exit and keeps only a JSON record under .bench_build/records/.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See bench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["reads_quickstart", "corpus_dedup", "interactive_serve"]
RUN_LIMIT_S = 170  # the whole call, build excluded, must end within this

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_children = []
_cleanup_dirs = []


def fail(msg, code=2):
    sys.stderr.write(f"bench: {msg}\n")
    sys.exit(code)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    for d in _cleanup_dirs:
        shutil.rmtree(d, ignore_errors=True)


def _on_signal(signum, _frame):
    _stop_children()
    sys.exit(128 + signum)


def source_digest():
    """sha256 over every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in inputs:
        if not os.path.exists(base):
            fail(f"missing build input {os.path.relpath(base, ROOT)}: "
                 "run from the root of a full checkout of the repository")
        walk = [(os.path.dirname(base), [], [os.path.basename(base)])] if os.path.isfile(base) \
            else os.walk(base)
        for dirpath, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source digest; return (classpath, digest)."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # the first PATH entry holding spark-submit next to a jars/ dir
        homes = [os.path.dirname(d) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))
                 and os.path.isdir(os.path.join(os.path.dirname(d), "jars"))]
        if not homes:
            fail("SPARK_HOME is unset and no Spark distribution is on PATH")
        env["SPARK_HOME"] = homes[0]
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        sbt_tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(sbt_tmp, exist_ok=True)
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              f"-Djava.io.tmpdir={sbt_tmp}", "-J-XX:-UsePerfData",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                             text=True, start_new_session=True)
        _children.append(p)
        out, _ = p.communicate(timeout=840)
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (sbt exit {p.returncode}); full log in {log}")
    classpath = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath, digest


def heap():
    """Max heap from MemTotal, as the tier-1 test command sizes it: half the
    box in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return f"source-sha256:{digest[:16]}"


# The workload JVM runs C1 only. Under the default tiered JIT, one
# corpus_dedup seed (5,000 docs) rerun settled at 5.1 to 6.5 s per chain,
# and five seeds at 3.3 to 5.9 s (an interquartile spread of 0.37); C1
# alone gave 3.5 to 4.3 s (0.09) and was no slower. See bench/README.md.
WORKLOAD_JIT = ["-XX:TieredStopAtLevel=1"]


def run_jvm(classpath, main, args, deadline, jit):
    """One JVM running `main` in a private directory, with the JIT flags
    `jit`; returns the JSON it writes to --out."""
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{args.get('workload', main)}-", dir=runs)
    _cleanup_dirs.append(rundir)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(rundir, "result.json")
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + jit
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={rundir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), main, "--out", out]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(rundir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=rundir, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.append(p)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            _stop_children()
            fail("benchmark JVM exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM failed with exit code {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


def add_kernel_probes(records, classpath, deadline):
    """Fill in the kernel.* metrics of traced records from KernelProbes,
    run in a JVM of its own under the default JIT: single-thread kernel
    calls that plan nothing, so C2 stays steady on them."""
    kernels = run_jvm(classpath, "graftbench.KernelProbes", {}, deadline, jit=[])
    for rec in records:
        rec["box"]["jit"] = "workloads C1 only; kernel.* default tiered"
        for k, v in kernels.items():
            rec["per_layer"][k]["value"] = v


def sql_checks(rec):
    """Compare the interactive_serve SQL results, written by the JVM as
    parquet, with DuckDB running each query's oracle SQL over the same
    generated tables, and each bucketed twin with its Layer-A row. Both
    sides go through the canonicalisation of tools/check.py."""
    spec = rec.pop("sql_checks", None)
    if spec is None:
        return
    import duckdb  # the installed python duckdb is the engine's oracle
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    from check import canon
    rec["box"]["duckdb"] = duckdb.__version__
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    tables = spec["tables_dir"]
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t)}/*.parquet')")

    def result(name):
        return f"SELECT * FROM read_parquet('{os.path.join(spec['results_dir'], name)}/*.parquet')"

    def differs(got_sql, want_sql):
        """None when both queries give the same canonical rows, else why not."""
        (a, _), (b, _) = canon(con.execute(got_sql).fetchdf()), canon(con.execute(want_sql).fetchdf())
        if list(a.columns) != list(b.columns):
            return f"columns {list(a.columns)} vs {list(b.columns)}"
        if len(a) != len(b):
            return f"{len(a)} vs {len(b)} rows"
        if not a.equals(b):
            return f"{int(((a != b) & ~(a.isna() & b.isna())).any(axis=1).sum())} of {len(a)} rows differ"
        return None

    for q in spec["queries"]:
        refs = []
        if q.get("oracle"):
            refs.append(("duckdb oracle", q["oracle"]))
        if q.get("twin_of"):
            refs.append((f"twin {q['twin_of']}", result(q["twin_of"])))
        if not refs:
            rec["attempted"] += 1
            rec["failed"] += 1
            rec["failures"].append(f"{q['name']}: no oracle")
        for label, sql in refs:
            rec["attempted"] += 1
            why = differs(result(q["name"]), sql)
            if why:
                rec["failed"] += 1
                rec["failures"].append(f"{q['name']} differs from {label}: {why}")
    for n in rec["named"]:
        if n["name"] == "fail_frac":
            n["value"] = rec["failed"] / max(1, rec["attempted"])


def report(rec, key):
    box = rec["box"]
    print(f"[{rec['workload']}] seed={rec['seed']} nproc={box['nproc']} master={box['master']} "
          f"jdk={box['jdk']} spark={box['spark']} max_heap_mb={box['max_heap_mb']} "
          f"commit={box['commit']}")
    for n in rec["named"]:
        print(f"[{rec['workload']}] {n['name']} = {n['value']} {n['unit']}")
    for f in rec["failures"]:
        print(f"[{rec['workload']}] FAILED {f}")
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": rec[key]}


def save_record(records, name):
    d = os.path.join(BUILD, "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w") as fh:
        json.dump(records, fh, indent=1)
    print(f"record: {os.path.relpath(path, ROOT)}")


def smoke(seed):
    """All three workloads at tiny size in one traced JVM: every named
    metric prints with its unit, every metric of BENCHMARK.json is
    reported, and every correctness check passes."""
    classpath, digest = build()
    args = {"workload": "all", "seed": seed, "seconds": 2, "trace": 1, "cores":
            len(os.sched_getaffinity(0)), "commit": commit_id(digest), "smoke": 1}
    records = run_jvm(classpath, "graftbench.Main", args, time.time() + 240, WORKLOAD_JIT)
    add_kernel_probes(records, classpath, time.time() + 60)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for rec in records:
        sql_checks(rec)
        report(rec, "per_layer")
        w = rec["workload"]
        for key, section in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in rec[key].items()}
            if got != want:
                problems.append(f"{w}: {key} metrics {sorted(got.items())} != "
                                f"BENCHMARK.json {sorted(want.items())}")
        for n in rec["named"] + [dict(name=k, **v) for k, v in rec["end_to_end"].items()]:
            if not isinstance(n["value"], (int, float)) or not n["unit"]:
                problems.append(f"{w}: metric {n['name']} has no value or unit")
        if rec["failed"] or not rec["attempted"]:
            problems.append(f"{w}: {rec['failed']} of {rec['attempted']} ops or checks failed")
    save_record(records, f"smoke-seed{seed}.json")
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        if a.smoke:
            return smoke(a.seed)
        if not a.workload:
            fail("--workload is required (or --smoke)")
        classpath, digest = build()
        deadline = time.time() + RUN_LIMIT_S
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cores": len(os.sched_getaffinity(0)),
                "commit": commit_id(digest)}
        records = run_jvm(classpath, "graftbench.Main", args, deadline - 30, WORKLOAD_JIT)
        if a.trace:
            add_kernel_probes(records, classpath, deadline - 10)
        rec = records[0]
        sql_checks(rec)
        result = report(rec, "per_layer" if a.trace else "end_to_end")
        save_record(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        print(json.dumps(result))
        return 0
    finally:
        _stop_children()


if __name__ == "__main__":
    sys.exit(main())
