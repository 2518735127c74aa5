#!/usr/bin/env python3
"""The duvaspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload sync_refresh|extract_sql|curation \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, in
perfbench/harness), runs the workload in one JVM at local[nproc] for as
many whole sync rounds or query passes as fit --seconds at their nominal
length on a 4-core host (at least one), so the work of a run never depends
on the host's speed, checks
its outputs (the generator's expected extract checksums for sync_refresh,
the DuckDB oracle of each query for extract_sql and curation), and prints
the run's full record as one JSON line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics (a layer a workload does not exercise
reads 0). Scratch data lives under .perfbench_work/ and is removed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
BUILD_DIR = HARNESS / "target"
WORKLOADS = ("sync_refresh", "extract_sql", "curation")


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_layout():
    """Refuse to run anywhere but a full checkout of the program."""
    need = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala",
            ROOT / "BENCHMARK.json", HARNESS / "build.sbt"]
    missing = [str(p.relative_to(ROOT)) for p in need if not p.exists()]
    if missing:
        fail("not a checkout of the program; missing " + ", ".join(missing), 2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties", HARNESS / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            if p.exists():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state.

    Returns (classpath, JVM options, whether this call built)."""
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    out = BUILD_DIR / "perfbench-build.json"
    with open(BUILD_DIR / "perfbench-build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if out.exists():
            got = json.loads(out.read_text())
            if got.get("stamp") == stamp:
                return got["classpath"], got["java_options"], False
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        launch = BUILD_DIR / "launch.txt"
        launch.unlink(missing_ok=True)
        code, log = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                              HARNESS, 850, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
        if code != 0 or not launch.exists():
            sys.stderr.write((log or "")[-4000:])
            fail("build failed" if code is not None else "build timed out")
        classpath, *options = launch.read_text().splitlines()
        out.write_text(json.dumps({"stamp": stamp, "classpath": classpath,
                                   "java_options": options}))
        return classpath, options, True


def heap():
    """The Spark driver heap the test recipe uses: half of MemTotal, 2g..8g."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run_jvm(classpath, options, argv, work, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = [o for o in options if not o.startswith("-Xmx")] + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={work / 'spark-local'}"]
    cmd = ["java", *opts, "-cp", classpath, "perfbench.Main", *argv, "--work", str(work)]
    code, _ = run_group(cmd, work, deadline - time.monotonic(), stdout=sys.stderr, stderr=sys.stderr)
    if code is None:
        fail("the run did not finish in time")
    if code != 0:
        fail(f"the JVM exited with code {code}")


def duck():
    import duckdb
    con = duckdb.connect()
    # never fetch an extension: everything used here is built in
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=4")
    return con


def table_checksums(replica, tables):
    """Order-insensitive checksum of each committed replica table."""
    con = duck()
    out = {}
    for t in sorted(tables):
        row = con.execute("SELECT count(*), sum(hash(COLUMNS(*))) "
                          f"FROM read_parquet('{replica}/{t}.parquet/*.parquet')").fetchone()
        out[t] = int(row[0]) * 1000003 + sum(int(x) for x in row[1:]) % (2 ** 61 - 1)
    return out


def oracle_check(record):
    """Compare each query's kept output with its DuckDB oracle on the same
    replica, the way tools/check_oracle.py does: columns sorted by name,
    exact values, row order as the query orders it."""
    import pandas as pd

    d = record["detail"]
    oracle_dir, replica = Path(d["oracle_dir"]), Path(d["replica_dir"])
    con = duck()
    for t in replica.glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    sqls = json.loads((oracle_dir / "oracle_sql.json").read_text())
    bad = {}
    for name, sql in sorted(sqls.items()):
        out = oracle_dir / name
        if not out.is_dir():
            bad[name] = "no output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
            want = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {str(e).splitlines()[0]}"
            continue
        got = got[sorted(got.columns)].reset_index(drop=True)
        want = want[sorted(want.columns)].reset_index(drop=True)
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} vs {len(want)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                bad[name] = str(e).splitlines()[0]
    return bad, sorted(sqls)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("checksums",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM: SystemExit unwinds through
    # run_group, which kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    check_layout()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    classpath, options, built = build()
    # a first run may spend up to 900 s building; a run itself gets 170 s
    deadline = (time.monotonic() if built else t_start) + 170

    work = ROOT / ".perfbench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rec_path = work / "record.json"
        argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", str(rec_path)]
        t_jvm = time.monotonic()
        run_jvm(classpath, options, argv, work, deadline)
        jvm_s = time.monotonic() - t_jvm
        record = json.loads(rec_path.read_text())
        if a.workload == "checksums":
            record["replica"] = table_checksums(record.pop("replica_dir"), record["replica"])
            print(json.dumps(record, sort_keys=True))
            return
        failures = list(record["failures"])
        failed = record["failed"]
        if a.workload in ("extract_sql", "curation"):
            tables = record["inputs"]["tables"]
            for t, c in table_checksums(record["detail"]["replica_dir"], tables).items():
                tables[t]["checksum"] = c
            t_oracle = time.monotonic()
            bad, checked = oracle_check(record)
            record["detail"]["oracle_check_s"] = time.monotonic() - t_oracle
            runs = record["detail"]["query_runs"]
            bad.update({q: "no oracle SQL" for q in runs if q not in checked})
            for q, why in bad.items():
                failures.append(f"{q} differs from its oracle: {why}")
                failed += 1 + runs.get(q, 0)  # the check run and every timed run
            record["detail"]["oracle_checked"] = checked
        attempted = record["attempted"] + (len(record["detail"].get("oracle_checked", [])))
        names = bench["per_layer" if a.trace else "end_to_end"]
        got = record["metrics"]
        if not a.trace:
            missing = [m["name"] for m in names if got.get(m["name"], {}).get("value") is None]
            if missing:
                fail("the run measured no " + ", ".join(missing))
        metrics = {m["name"]: {"value": got.get(m["name"], {}).get("value") or 0.0, "unit": m["unit"]}
                   for m in names}
        record.update(failures=failures, failed=failed, attempted=attempted, jvm_s=jvm_s)
        print(json.dumps({"perfbench_record": record}, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
