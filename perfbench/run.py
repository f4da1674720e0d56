#!/usr/bin/env python3
"""graft benchmark runner.

Builds the library and the benchmark program from the checkout (once per
source state), runs one seeded workload in a fresh JVM, replays a seeded
sample of responses against graft's DuckDB oracle SQL, reclaims the run's
inputs and layouts, and prints two JSON lines: the run's metadata, then
the result object (`correct`, `attempted`, `failed`, `metrics`).

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run it from the root of the repository. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["point_serve", "stream_events", "index_refresh"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
JVM_HEAP = "2g"
BENCH_DIR = "perfbench"
STATE_DIR = ".bench_build"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    files = []
    for base in ("src/main/scala", f"{BENCH_DIR}/src"):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    files.append(os.path.join(root, BENCH_DIR, "build.sbt"))
    return sorted(files)


def source_stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile graft and the benchmark program; returns the runtime classpath."""
    state = os.path.join(root, STATE_DIR, "perfbench")
    os.makedirs(state, exist_ok=True)
    stamp = source_stamp(root)
    stamp_file = os.path.join(state, "stamp")
    cp_file = os.path.join(state, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp, stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g -XX:-UsePerfData")
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, BENCH_DIR), env=env, stdout=out,
                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        die(f"build failed (rc={rc}); see {log}")
    cp = lines[-1]
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        die(f"build produced no usable classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def nproc():
    """Cores this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def run_jvm(root, cp, workload, seed, seconds, trace, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out,
            "--cores", str(nproc())]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        return None, f"JVM exited with {rc}:\n{tail}"
    with open(out) as f:
        return json.load(f), None


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b) or (math.isnan(float(a)) and math.isnan(float(b)))
        except (TypeError, ValueError):
            return False
    return a == b


def first_difference(got, want):
    """Index of the first row where two pages differ, None when equal."""
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(same(x, y) for x, y in zip(g, w)):
            return i
    return None if len(got) == len(want) else min(len(got), len(want))


def rounding_hint(g, w):
    """A note for a row whose only differences are scores exactly 1e-4
    apart, the signature of graft's 4-decimal half-way rounding defect
    (perfbench/README.md). The row still fails its check.
    """
    if g is None or w is None or len(g) != len(w):
        return ""
    diff = [(x, y) for x, y in zip(g, w) if not same(x, y)]
    if all(isinstance(x, float) and isinstance(y, float) and abs(abs(x - y) - 1e-4) < 1e-9
           for x, y in diff):
        return " (scores 1e-4 apart: 4-decimal half-way rounding, see perfbench/README.md)"
    return ""


def oracle_checks(res):
    """Replay each sampled response's oracle SQL in DuckDB and compare bitwise.

    Returns (checks, failures).
    """
    failures = []
    checks = res.get("oracle", [])
    if not checks:
        return 0, failures
    import duckdb

    def connect(d, query):
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            path = os.path.join(d, f"{t}.parquet")
            if not os.path.isdir(path):
                continue
            rel = f"SELECT * FROM read_parquet('{path}/*.parquet')"
            if t == "embeddings" and query:
                # the check's query vector joins the table under its own id
                vec = ", ".join(repr(float(x)) for x in query["embedding"])
                rel = (f"SELECT vec_id, embedding, label FROM read_parquet('{path}/*.parquet') "
                       f"UNION ALL SELECT {int(query['vec_id'])}, [{vec}]::FLOAT[], 0")
            con.execute(f"CREATE VIEW {t} AS {rel}")
        return con

    views = {}
    for c in checks:
        query = c.get("query")
        if query:
            con = connect(c["dir"], query)
        else:
            con = views.get(c["dir"]) or views.setdefault(c["dir"], connect(c["dir"], None))
        try:
            want = [list(r) for r in con.execute(c["sql"]).fetchall()]
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            failures.append({"op": "oracle/" + c["op"], "message": f"oracle error: {e}"[:300]})
            continue
        finally:
            if query:
                con.close()
        got = c["rows"]
        i = first_difference(got, want)
        if i is not None:
            g = got[i] if i < len(got) else None
            w = want[i] if i < len(want) else None
            failures.append({"op": "oracle/" + c["op"],
                             "message": f"mismatch at row {i} of {len(got)}/{len(want)}: "
                                        f"engine {g} vs oracle {w}"[:300] + rounding_hint(g, w)})
    for con in views.values():
        con.close()
    return len(checks), failures


def commit_of(root):
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def one(root, cp, stamp, workload, seed, seconds, trace):
    work = os.path.join(root, STATE_DIR, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load0 = loadavg()
    t0 = time.time()
    res, err = run_jvm(root, cp, workload, seed, seconds, trace, work)
    if res is None:
        shutil.rmtree(work, ignore_errors=True)
        die(f"{workload}: {err}", 1)
    n_oracle, oracle_fail = oracle_checks(res)
    # the oracle replays counted as attempted inside the JVM; their
    # mismatches are added here
    failures = res["failures"] + oracle_fail
    attempted = res["attempted"]
    failed = len(failures)
    shutil.rmtree(work, ignore_errors=True)
    named = res["named"]
    named["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio",
                           "samples": attempted}
    meta = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "commit": commit_of(root), "source_sha256": stamp,
        "config": dict(res["config"], seed=seed),
        "named_metrics": named, "failures": failures, "oracle_checks": n_oracle,
        "timing_s": dict(res["timing_s"], wall=time.time() - t0),
        "box": {"loadavg_start": load0, "loadavg_end": loadavg(), "cal_sec": res["cal_sec"],
                "nproc": nproc()},
        "info": res["info"],
    }
    if trace:
        meta["trace"] = {"spans": res["spans"], "progress": res["progress"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": res["metrics"]}
    return meta, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft/GraftClient.scala", f"{BENCH_DIR}/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    cp, stamp = build(root)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        meta, result = one(root, cp, stamp, w, a.seed, a.seconds, a.trace)
        print(json.dumps({"meta": meta}), flush=True)
        results.append((w, result))
    if len(results) == 1:
        print(json.dumps(results[0][1]), flush=True)
    else:
        print(json.dumps({
            "correct": all(r["correct"] for _, r in results),
            "attempted": sum(r["attempted"] for _, r in results),
            "failed": sum(r["failed"] for _, r in results),
            "metrics": {f"{w}.{k}": v for w, r in results for k, v in r["metrics"].items()},
        }), flush=True)


if __name__ == "__main__":
    main()
