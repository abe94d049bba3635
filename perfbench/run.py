#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program (`sbt
compile` at the root) and the harness (perfbench/harness); later runs reuse
the build while no source file changed. Each run then

  1. derives the workload's inputs from perfbench/fixtures and the seed,
  2. starts one JVM (perfbench.Harness) that times the workload's jobs, and
     with --trace 1 traces them layer by layer,
  3. compares every job's output with its DuckDB oracle over the generated
     inputs (SparkEntry.oracleSql, the sort-and-compare rules of
     scripts/check.py),

prints one line of details, and last one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Apart from sbt's target/
directories, everything it writes goes under .bench_build/, and all but the
build and the span file of a traced run is removed again. design.json
records the job lists and the layer metrics each workload is meant to move.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import warnings
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
HARNESS = HERE / "harness"
ARCHIVE = WORK / "classes.jsa"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def all_jobs():
    """Every workload's jobs, which the class-data sharing archive is trained on."""
    design = json.loads((HERE / "design.json").read_text())
    return sorted({j for w in design["workloads"].values() for j in w["jobs"]})


def fingerprint():
    """Digest of every file the build reads and of the jobs the archive is
    trained on, so a changed source or job list rebuilds."""
    h = hashlib.sha1(",".join(all_jobs()).encode())
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties", HARNESS / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt(args, cwd, **extra_env):
    env = dict(os.environ, COURSIER_MODE="offline", **extra_env)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *args], cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"sbt {' '.join(args)} failed in {cwd}")
    return r.stdout


def jar(directory, dst):
    """Pack a class directory into a jar: class-data sharing archives only
    classes that were loaded from jars."""
    with zipfile.ZipFile(dst, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(directory.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(directory).as_posix())
    return str(dst)


def build():
    """Compile the program with its own build and the harness against it,
    then train a class-data sharing archive on one set-up over every
    workload's jobs; returns the JVM classpath. The archive takes about
    7 s of class loading out of each run's set-up, which leaves the
    program's own warm-up a larger share of setup_s."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    fp = fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text()
    out = sbt(["compile", "export Runtime/fullClasspath"], ROOT)
    program_cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    sbt(["compile"], HARNESS, PERFBENCH_PROGRAM_CP=program_cp)
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    entries = [HARNESS / "target" / "scala-2.13" / "classes", *map(Path, program_cp.split(os.pathsep))]
    cp = os.pathsep.join(jar(e, WORK / f"classes{i}.jar") if e.is_dir() else str(e)
                         for i, e in enumerate(entries))
    train = WORK / "train"
    generate(0, train / "data")
    run_jvm(cp, ["--jobs", ",".join(all_jobs()), "--layers", "", "--passes", "0", "--trace", "0",
                 "--data", str(train / "data"), "--out", str(train / "out"),
                 "--cpus", str(len(os.sched_getaffinity(0)))],
            train, f"-XX:ArchiveClassesAtExit={ARCHIVE}", timeout=600)
    shutil.rmtree(train)
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def remap_token(token, seed, taken, cache):
    """Seeded stand-in for one lowercase token: same length, a letter for a
    letter and a digit for a digit, never the stand-in of another token."""
    if token in cache:
        return cache[token]
    attempt = 0
    while True:
        digest = b""
        while len(digest) < len(token):
            digest += hashlib.md5(f"{token}|{seed}|{attempt}|{len(digest)}".encode()).digest()
        out = "".join(chr(97 + b % 26) if c.isalpha() else chr(48 + b % 10)
                      for c, b in zip(token, digest))
        if out not in taken:
            break
        attempt += 1
    taken.add(out)
    cache[token] = out
    return out


def generate(seed, out):
    """Derive the run's input tables from the fixtures; returns their sizes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    word = re.compile(r"[A-Za-z0-9]+")
    sizes = {}
    for src in sorted((HERE / "fixtures").glob("*.parquet")):
        t = pq.read_table(src)
        t = t.take(rng.permutation(t.num_rows))
        if src.stem == "documents":
            texts = t.column("text").to_pylist()
            vocab = sorted({w.lower() for x in texts if x for w in word.findall(x)})
            taken, cache = set(), {}
            for w in vocab:
                remap_token(w, seed, taken, cache)

            def swap(m):
                w = m.group(0)
                r = cache[w.lower()]
                return "".join(rc.upper() if wc.isupper() else rc for wc, rc in zip(w, r))
            texts = [word.sub(swap, x) if x else x for x in texts]
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
        if src.stem == "embeddings":
            col = t.column("embedding").combine_chunks()
            dim = len(col[0])
            shift = 1 + seed % (dim - 1)
            vecs = np.roll(np.asarray(col.flatten()).reshape(-1, dim), -shift, axis=1)
            rotated = pa.ListArray.from_arrays(col.offsets, pa.array(vecs.reshape(-1), pa.float32()))
            t = t.set_column(t.schema.get_field_index("embedding"),
                             t.schema.field("embedding"), rotated.cast(t.schema.field("embedding").type))
        dst = out / src.name
        pq.write_table(t, dst)
        sizes[src.stem] = {"rows": t.num_rows, "bytes": dst.stat().st_size}
    return sizes


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_mismatch(con, sql, res_dir):
    """scripts/check.py's rules: sort rows and columns, then compare each
    column exactly (dtype-insensitively as a fallback). None means equal."""
    import numpy as np
    import pandas as pd
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        return "no output"
    mine = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    want = canon(con.sql(sql).df())
    if list(mine.columns) != list(want.columns):
        return f"columns {list(mine.columns)} vs {list(want.columns)}"
    if len(mine) != len(want):
        return f"rows {len(mine)} vs {len(want)}"
    bad = []
    for c in mine.columns:
        a, b = mine[c].to_numpy(), want[c].to_numpy()
        eq = pd.Series(a).equals(pd.Series(b)) or (
            a.dtype.kind == "f" and b.dtype.kind == "f" and np.array_equal(a, b, equal_nan=True))
        if not eq:
            try:
                warnings.simplefilter("ignore", FutureWarning)
                eq = all(pd.Series(a).astype(object).fillna("∅") == pd.Series(b).astype(object).fillna("∅"))
            except Exception:
                eq = False
        if not eq:
            bad.append(c)
    return f"value mismatch in {bad}" if bad else None


def run_jvm(cp, args, cwd, archive_flag=None, timeout=JVM_TIMEOUT_S):
    if archive_flag is None and ARCHIVE.exists():
        archive_flag = f"-XX:SharedArchiveFile={ARCHIVE}"
    # A 1 GB initial heap: left to grow from the default, the heap's size,
    # and with it peak_rss_mb, depends on GC timing and moved up to 25%
    # between runs. Now peak_rss_mb moves when a change needs more heap.
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "--add-modules=jdk.incubator.vector", "-Xms1g", "-Xmx2g", *filter(None, [archive_flag]),
           f"-Djava.io.tmpdir={cwd / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness", *args]
    (cwd / "tmp").mkdir()
    with open(cwd / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        sys.stderr.write((cwd / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {p.returncode}")


def pass_count(seconds, nominal_pass_s):
    """Timed passes for a run of `seconds`: as many as fit at the workload's
    nominal pass time, at least two, because the first pass after set-up
    still runs partly unoptimized code. The count depends on nothing
    measured: the JIT keeps warming over the first passes, so a count that
    followed the clock would give a faster program, or a fast stretch of the
    host, more and warmer passes, and lower medians for that alone."""
    return max(2, int(seconds / nominal_pass_s))


def tail_latency(xs):
    """Latency at the highest percentile with at least ten samples above it,
    but never below p90: a run with fewer than 100 samples reports p90.
    Interpolates linearly between samples; returns (latency, percentile)."""
    import numpy as np
    pct = max(90.0, 100.0 * (len(xs) - 10) / len(xs))
    return float(np.percentile(xs, pct)), pct


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    design = json.loads((HERE / "design.json").read_text())
    if a.workload not in design["workloads"]:
        fail(f"unknown workload {a.workload}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no graft sources to build")
    jobs = design["workloads"][a.workload]["jobs"]
    layers = design["workloads"][a.workload]["layers"]
    passes = pass_count(a.seconds, design["workloads"][a.workload]["nominal_pass_s"])

    cp = build()
    setup_start = time.time()
    run = WORK / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    try:
        sizes = generate(a.seed, run / "data")
        n = len(os.sched_getaffinity(0))
        run_jvm(cp, ["--jobs", ",".join(jobs), "--layers", ",".join(layers), "--passes", str(passes), "--trace", str(a.trace),
                     "--data", str(run / "data"), "--out", str(run / "out"), "--cpus", str(n)], run)
        res = json.loads((run / "out" / "result.json").read_text())

        import duckdb
        con = duckdb.connect()
        for p in sorted((run / "data").glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        errors = {}
        for j in res["check"]:
            if j["error"]:
                errors[j["name"]] = j["error"]
            elif j["name"] in res["oracle_sql"]:
                try:
                    bad = oracle_mismatch(con, res["oracle_sql"][j["name"]], run / "out" / j["name"])
                except Exception as e:
                    bad = f"oracle failed: {e}"
                if bad:
                    errors[j["name"]] = bad
        con.close()
        if a.trace:
            spans = run / "out" / "spans.json"
            shutil.copy(spans, WORK / f"spans-{a.workload}-{a.seed}.json")
    finally:
        shutil.rmtree(run, ignore_errors=True)

    passes = res["timed"] + res["traced"]
    runs = [j for p in passes for j in p["jobs"]]
    failed = len(errors) + sum(1 for j in runs if j["error"])
    attempted = len(res["check"]) + len(runs)
    if a.trace:
        attempted += 1  # the scan-byte counter check
        failed += float(res["trace"]["sources.scan_check_ok"]) != 1.0
    for name, err in errors.items():
        print(f"perfbench: {name} failed the check: {err}", file=sys.stderr)
    for j in runs:
        if j["error"]:
            print(f"perfbench: {j['name']} failed: {j['error']}", file=sys.stderr)

    timed = [j["secs"] for p in res["timed"] for j in p["jobs"] if not j["error"]]
    if not timed:
        fail("no timed job succeeded")
    tail, pct = tail_latency(timed)
    detail = {
        "workload": a.workload, "seed": a.seed, "cpus": n, "inputs": sizes,
        "passes": len(res["timed"]), "pass_secs": [p["secs"] for p in res["timed"]],
        "check_secs": {j["name"]: j["secs"] for j in res["check"]},
        "job_samples": len(timed), "job_tail_percentile": pct,
        "job_secs": {name: [j["secs"] for p in res["timed"] for j in p["jobs"] if j["name"] == name]
                     for name in jobs},
        "oracle_checked": sorted(set(jobs) & set(res["oracle_sql"])),
        "errors": errors,
    }
    if a.trace:
        detail["trace"] = {k: float(v) for k, v in res["trace"].items()}
    print(json.dumps(detail))

    if a.trace:
        values = {m["name"]: float(res["trace"][m["name"]]) for m in bench["per_layer"]}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        values = {
            "setup_s": int(res["setup_end_ms"]) / 1000.0 - setup_start,
            "pass_s": statistics.median(p["secs"] for p in res["timed"]),
            "job_p50_s": statistics.median(timed),
            "job_tail_s": tail,
            "peak_rss_mb": float(res["peak_rss_mb"]),
            "success_ratio": 1.0 - failed / attempted,
        }
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
