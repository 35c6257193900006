#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cohort_large --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (`perfbench/build.sbt`); later runs
reuse the build until a source file changes. Inputs are generated from the
seed (gen.py) and checked by DuckDB oracles (tasks.py) before any timing.
Everything the run writes stays under `.perfbench/` in the repository root.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). The line
before it is the full run record (run settings, samples, percentiles).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tasks  # noqa: E402

# Workload sizes are set so that one run (set-up, the measured loop and the
# checks) stays well under the time budget on a 4-core machine. The corpus
# has the size of the sf0.1 documents table.
WORKLOADS = {
    "cohort_large": {"kind": "cohort", "meds": {"rows": 150_000, "subjects": 3_000}},
    "curation_dedup": {"kind": "curation", "docs": {"docs": 5000}},
}

SETUPS = 3
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def sources_mtime():
    newest = 0.0
    for base in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, fs in os.walk(p):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def classpath():
    stamp = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= sources_mtime():
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    sbt = shutil.which("sbt") or die("sbt not found on PATH")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=BUILD_TIMEOUT_S)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and os.pathsep in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ---- inputs and oracles ----------------------------------------------------

def generator_digest():
    """SHA-256 of the files that define the inputs and oracles, so cached
    inputs are rebuilt whenever the generator, a task or an oracle changes."""
    h = hashlib.sha256()
    for name in ("gen.py", "tasks.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def prepare_inputs(name, seed):
    """Generate (or reuse) the seeded inputs and their oracle fingerprints."""
    spec = WORKLOADS[name]
    params = {"generator_sha256": generator_digest(), "workload": name, "seed": seed,
              **spec.get("meds", {}), **spec.get("docs", {})}
    d = os.path.join(WORK, "data", f"{name}-{seed}")
    manifest = os.path.join(d, "inputs.json")
    expected_path = os.path.join(d, "expected.json")
    if os.path.exists(manifest) and os.path.exists(expected_path):
        with open(manifest) as f:
            m = json.load(f)
        if m["params"] == params:
            with open(expected_path) as f:
                return d, m, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    if spec["kind"] == "cohort":
        cols = gen.meds_arrays(seed, **spec["meds"])
        digest = gen.content_hash([cols[k] for k in sorted(cols)])
        shard = os.path.join(d, "shard.parquet")
        rows = gen.write_meds(shard, cols)
        expected = tasks.flagship_expected(con, shard)
    else:
        cols = gen.doc_arrays(seed, **spec["docs"])
        digest = gen.content_hash([cols[k] for k in sorted(cols)])
        docs = os.path.join(d, "docs.parquet")
        rows = gen.write_docs(docs, cols)
        ids = tasks.curation_kept(con, docs)
        expected = [len(ids), sum(ids), sum((i * i) % tasks.FP_MOD for i in ids)]
    gen.write_manifest(d, params, digest, rows)
    with open(expected_path, "w") as f:
        json.dump(expected, f)
    with open(manifest) as f:
        return d, json.load(f), expected


# ---- one run ---------------------------------------------------------------

def percentile_report(xs):
    """Median, the highest percentile with >= 10 samples beyond it, count."""
    xs = sorted(xs)
    n = len(xs)
    rep = {"median": statistics.median(xs) if xs else None, "n": n}
    if n >= 11:
        p = int(100 * (1 - 10 / n))
        rep[f"p{p}"] = xs[min(n - 1, int(p / 100 * n))]
    return rep


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, job, log):
    nproc = job["nproc"]
    props = os.path.join(job["out"], "job.properties")
    with open(props, "w") as f:
        for k, v in job.items():
            f.write(f"{k}={str(v).replace(chr(92), '/')}\n")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{job['xmx']}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", props]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=job["out"], env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            # Also on SIGTERM (see main) or Ctrl-C: never leave the JVM behind.
            if p.poll() is None:
                p.kill()
                p.wait()
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from a full checkout: the library sources (build.sbt, src/main) are missing")
    loadavg = os.getloadavg()[0]
    os.makedirs(WORK, exist_ok=True)
    cp = classpath()
    spec = WORKLOADS[a.workload]
    t0 = time.monotonic()
    data, manifest, expected = prepare_inputs(a.workload, a.seed)
    prep_s = time.monotonic() - t0

    out = os.path.join(WORK, "out", f"{a.workload}-{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    nproc = len(os.sched_getaffinity(0))
    job = {"workload": a.workload, "trace": a.trace, "seconds": a.seconds, "nproc": nproc,
           "setups": SETUPS, "out": out, "result": os.path.join(out, "result.json"),
           "rows_in": manifest["rows"], "xmx": "4g",
           "selftest.perturb": os.environ.get("PERFBENCH_PERTURB", "0")}
    job["expected"] = ",".join(map(str, expected))
    if spec["kind"] == "cohort":
        job["shard"] = os.path.join(data, "shard.parquet")
        y = os.path.join(out, "flagship.yaml")
        with open(y, "w") as f:
            f.write(tasks.FLAGSHIP_YAML)
    else:
        job["docs"] = os.path.join(data, "docs.parquet")
        y = os.path.join(out, "curation.yaml")
        with open(y, "w") as f:
            f.write(tasks.CURATION_YAML)
        job["curation.step.quality"] = tasks.QUALITY_STEP
        job["curation.step.dedup_ngram"] = tasks.DEDUP_STEP
    job["yaml"] = y

    log = os.path.join(out, "jvm.log")
    rc = run_jvm(cp, job, log)
    if rc != 0 or not os.path.exists(job["result"]):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark JVM exited with {rc}")
    with open(job["result"]) as f:
        res = json.load(f)

    walls = res["wall_s"]
    wall = statistics.median(walls)
    peaks = [b / 1048576.0 for b in res["peak_exec_b"]]
    attempted, failed = res["attempted"], res["failed"]
    if a.trace:
        # Every per-layer metric the benchmark declares; a layer the
        # workload never calls did no work and reads 0.
        declared = bench_spec()["per_layer"]
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared}
    else:
        values = {"setup_s": statistics.median(res["setup_s"]), "wall_s": wall,
                  "input_rows_per_s": manifest["rows"] / wall,
                  "peak_exec_mem_mb": statistics.median(peaks)}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench_spec()["end_to_end"]}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "nproc": nproc, "loadavg_1m_start": loadavg, "git_commit": git_commit(),
        "session": res["conf"], "closed_loop": "1 client, 1 op in flight",
        "inputs": {"content_sha256": manifest["content_sha256"], "rows": manifest["rows"],
                   "params": manifest["params"], "prepare_s": round(prep_s, 3)},
        "wall_s": percentile_report(walls), "setup_s_samples": res["setup_s"],
        "ops_failed_frac": failed / attempted if attempted else 1.0,
        "comparable_with": f"runs at nproc={nproc} only",
    }
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
