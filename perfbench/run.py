#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the program and the
harness from source (once per source state), makes the workload's input
(once per checkout), then runs one JVM that sets up a session several
times, writes every query's output once for the DuckDB oracle compare,
and times passes over the queries for --seconds, one query at a time.
The seed only permutes the query order of each pass.

--trace 0 prints the end-to-end metrics; --trace 1 adds traced passes
and prints the per-layer metrics. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. A
record keyed by full query name goes to .bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import benchlib  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_checked(cmd, timeout, env=None, cwd=None, capture=False):
    """Runs a child process to its end and returns its exit code and, with
    capture, its stdout. The child is killed and reaped if it overruns the
    timeout or this process is interrupted."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"timed out after {timeout} s: {' '.join(cmd[:2])} ...")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    return proc.returncode, out


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal, clamped to 2-8 GB, as the engine's tests size it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def source_stamp():
    """Hash of every file the build reads: the program's sources and build
    definition and the harness's."""
    h = hashlib.sha256()
    harness = os.path.join(HERE, "harness")
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(harness, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), harness):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt; returns the runtime
    classpath. Skipped when the sources are unchanged since the last
    build in this checkout."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    code, out = run_checked(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        timeout=840, env=env, cwd=os.path.join(HERE, "harness"), capture=True)
    if code != 0:
        sys.stderr.write(out)
        raise RuntimeError(f"sbt build failed with exit code {code}")
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return lines[-1].strip()


def java_cmd(classpath, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # no hsperfdata files: the run writes only inside its checkout
    return [java, f"-Xmx{heap()}", "-XX:-UsePerfData", *opens,
            "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, main, *args]


def row_count(path):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").count_rows()


def scaled_data(classpath, work):
    """The ten-times copy of the base tables, made with graft.ScaleData
    under .bench_build/data. Returns (dir, seconds spent generating, 0
    when the copy was already complete)."""
    dst = os.path.join(BUILD, "data", f"x{benchlib.SCALE_FACTOR}")

    def complete():
        try:
            return all(row_count(os.path.join(dst, f"{t}.parquet")) ==
                       benchlib.SCALE_FACTOR * row_count(os.path.join(BASE_DATA, f"{t}.parquet"))
                       for t in benchlib.FACT_TABLES)
        except Exception:  # missing or partial files
            return False

    if complete():
        return dst, 0.0
    log(f"generating {dst}")
    shutil.rmtree(dst, ignore_errors=True)
    t0 = time.time()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    code, _ = run_checked(java_cmd(classpath, work, "graft.ScaleData",
                                   [BASE_DATA, dst, str(benchlib.SCALE_FACTOR)]),
                          timeout=JVM_TIMEOUT_S, env=env)
    if code != 0 or not complete():
        raise RuntimeError("ScaleData did not produce a complete copy")
    return dst, time.time() - t0


def check_oracle(data, dump, work):
    """Compares the verify dump with DuckDB through tools/check_oracle.py.
    Returns {query: (ok, detail)} for the queries that have oracle SQL."""
    env = dict(os.environ, DUCKDB_TMP=os.path.join(work, "duckdb"),
               DUCKDB_MEM="2GB", DUCKDB_THREADS=str(cores()))
    _, out = run_checked([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                          data, dump], timeout=120, env=env, capture=True)
    result = {}
    for line in out.splitlines():
        if line.startswith("OK ") or line.startswith("FAIL "):
            status, rest = line.split(None, 1)
            name, detail = rest.split(":", 1)
            result[name] = (status == "OK", detail.strip())
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from the root of a checkout of the program")
            return 2

    wl = benchlib.WORKLOADS[a.workload]
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        classpath = build()
        datagen_s = 0.0
        data = BASE_DATA
        if wl["data"] == "x10":
            data, datagen_s = scaled_data(classpath, work)
            if datagen_s:
                log(f"input generation took {datagen_s:.1f} s")

        order = benchlib.permutation(wl["queries"], a.seed)
        dump = os.path.join(work, "dump")
        raw = os.path.join(work, "raw.json")
        t0 = time.time()
        code, _ = run_checked(java_cmd(classpath, work, "perfbench.Harness", [
            "--data", data, "--queries", ",".join(order), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()),
            "--dump", dump, "--out", raw]), timeout=JVM_TIMEOUT_S)
        if code != 0:
            raise RuntimeError(f"harness exited with code {code}")
        with open(raw) as f:
            rec = json.load(f)
        t1 = time.time()
        oracle = check_oracle(data, dump, work)
        log(f"harness JVM {t1 - t0:.1f} s, oracle compare {time.time() - t1:.1f} s")

        # expected row count per query: the verified output's, provided the
        # verify pass succeeded and, where the query has oracle SQL, the
        # oracle compare reported a match
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            has_oracle = set(json.load(f))
        expected = {}
        verdict = {}
        for q in order:
            err = rec["verify"][q]["error"]
            if err is not None:
                verdict[q] = f"FAIL verify pass: {err}"
                continue
            if q in has_oracle:
                ok, detail = oracle.get(q, (False, "the oracle compare gave no result"))
            else:
                ok, detail = True, "no oracle SQL; row count only"
            verdict[q] = ("OK " if ok else "FAIL ") + detail
            if ok:
                expected[q] = row_count(os.path.join(dump, q))
            log(f"{q}: {verdict[q]}")

        samples = rec["samples"]
        for s in samples:
            s["ok"] = s["error"] is None and expected.get(s["query"]) == s["rows"]
        failed = sum(not s["ok"] for s in samples)
        untraced = [s for s in samples if s["ok"] and not s["traced"]]
        traced = [s for s in samples if s["ok"] and s["traced"]]
        if not untraced or (a.trace == 1 and not traced):
            raise RuntimeError("no query ran correctly; see the verdicts above")

        per_query = {q: {"verify": verdict[q], "verified_rows": expected.get(q),
                         "heap_live_mb": rec["verify"][q]["heap_live_mb"],
                         "samples": [{k: s[k] for k in ("pass", "traced", "build_ms", "wall_ms",
                                                          "rows", "error", "heap_peak_mb")}
                                     for s in samples if s["query"] == q]}
                     for q in order}
        if a.trace == 0:
            values = benchlib.end_to_end(rec["setups"], rec["verify"], untraced)
            units = benchlib.END_TO_END
        else:
            layers = benchlib.layer_per_query(traced)
            for q, v in layers.items():
                per_query[q]["layers"] = v
            values = benchlib.layer_totals(rec["setups"], layers, traced, untraced, rec["cores"])
            units = {k: u for k, (u, _) in benchlib.PER_LAYER.items()}
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "order": order, "data": os.path.relpath(data, ROOT),
                  "datagen_s": datagen_s, "cores": rec["cores"], "setups": rec["setups"],
                  "measured_s": rec["measured_s"], "queries": per_query, "metrics": metrics}
        records = os.path.join(BUILD, "records")
        os.makedirs(records, exist_ok=True)
        path = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        log(f"record: {os.path.relpath(path, ROOT)}")

        result = {"correct": failed == 0, "attempted": len(samples),
                  "failed": failed, "metrics": metrics}
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # SIGTERM unwinds like an error, so the JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
