#!/usr/bin/env python3
"""Self-test of the benchmark's inputs and output check.

    python3 perfbench/selftest.py          # generator + fingerprint checks (seconds)
    python3 perfbench/selftest.py --jvm    # also one perturbed benchmark run

1. The same seed generates identical inputs (equal content hashes) and
   another seed does not, for the MEDS shard and the document corpus.
2. The label fingerprint the output check compares changes when one oracle
   row is dropped, one label is flipped, or one prediction time moves 1 us.
3. With `--jvm`: a `cohort_large` run whose outputs are perturbed (one row
   dropped before the check) reports every op as failed and `correct: false`.
"""

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import gen  # noqa: E402
import tasks  # noqa: E402


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def hashes_are_seeded():
    def meds(seed):
        c = gen.meds_arrays(seed, rows=20_000, subjects=400)
        return gen.content_hash([c[k] for k in sorted(c)])

    def docs(seed):
        c = gen.doc_arrays(seed, docs=60)
        return gen.content_hash([c[k] for k in sorted(c)])

    check(meds(7) == meds(7), "MEDS shard: same seed, same content hash")
    check(meds(7) != meds(8), "MEDS shard: another seed, another content hash")
    check(docs(7) == docs(7), "documents: same seed, same content hash")
    check(docs(7) != docs(8), "documents: another seed, another content hash")


def fingerprint_detects_perturbation():
    work = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as d:
        shard = os.path.join(d, "shard.parquet")
        gen.write_meds(shard, gen.meds_arrays(3, rows=30_000, subjects=600))
        con = duckdb.connect()
        con.execute(f"CREATE TABLE ev AS SELECT subject_id, CAST(time AS TIMESTAMP) AS ts, code "
                    f"FROM read_parquet('{shard}')")
        con.execute(f"CREATE TABLE lab AS {tasks.FLAGSHIP_SQL}")
        n = con.execute("SELECT COUNT(*) FROM lab").fetchone()[0]
        check(n > 10, f"oracle label frame is not trivial ({n} rows)")
        base = con.execute(tasks.fingerprint_sql("SELECT * FROM lab")).fetchone()
        same = con.execute(tasks.fingerprint_sql(
            "SELECT * FROM lab ORDER BY subject_id DESC, prediction_time")).fetchone()
        check(base == same, "fingerprint ignores row order")
        variants = {
            "one row dropped": "SELECT * FROM lab WHERE rowid <> (SELECT MIN(rowid) FROM lab)",
            "one label flipped": "SELECT subject_id, prediction_time, CASE WHEN rowid = "
                                 "(SELECT MIN(rowid) FROM lab) THEN NOT boolean_value "
                                 "ELSE boolean_value END AS boolean_value FROM lab",
            "one time moved 1 us": "SELECT subject_id, CASE WHEN rowid = "
                                   "(SELECT MIN(rowid) FROM lab) THEN prediction_time + "
                                   "INTERVAL 1 MICROSECOND ELSE prediction_time END "
                                   "AS prediction_time, boolean_value FROM lab",
        }
        for what, sql in variants.items():
            check(con.execute(tasks.fingerprint_sql(sql)).fetchone() != base,
                  f"fingerprint changes: {what}")


def perturbed_run_fails():
    root = os.path.dirname(HERE)
    env = dict(os.environ, PERFBENCH_PERTURB="1")
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "cohort_large",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=root, env=env, capture_output=True, text=True, timeout=300)
    check(r.returncode == 0, "perturbed run completes")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    check(res["correct"] is False and res["failed"] == res["attempted"] >= 1,
          f"perturbed outputs count as failed ({res['failed']}/{res['attempted']})")


if __name__ == "__main__":
    hashes_are_seeded()
    fingerprint_detects_perturbation()
    if "--jvm" in sys.argv:
        perturbed_run_fails()
    print("selftest passed")
