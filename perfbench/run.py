#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. On first use (and whenever an engine
or harness source or the corpus changes) it builds the engine together
with the harness in perfbench/ (sbt, output under .bench_build/) and the
set-up state every run starts from. Then it
runs one workload in a fresh JVM on local[nproc], checks its answers and
prints one JSON line: {"correct", "attempted", "failed", "metrics"} with
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

A fuller report (per-span layer table, per-op counts, checks,
provenance, and for traced runs the tracing overhead against the last
untraced run of the same workload) is written to
.bench_build/reports/<workload>-seed<n>-trace<t>.json and summarised on
stderr. Workloads and metrics are described in perfbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# answers are compared in the engine selfcheck's canonical form
sys.path.insert(0, os.path.join(ROOT, "tools"))
WORKLOADS = ("ingest_cycle", "corpus_batch")
# Both cut from the engine's test data by make_corpus.py: the corpus the
# workloads run on (from sf0.1), and the one corpus_batch's answers are
# checked on (sf0.01, the engine's DuckDB-oracle corpus; the oracles are
# quadratic in the documents, too slow at the corpus size).
DATA = os.path.join(HERE, "data", "corpus")
CHECK_DATA = os.path.join(HERE, "data", "check")
RUN_TIMEOUT_S = 170
# sbt build and set-up state each; with a run, within a first run's 900 s
BUILD_TIMEOUT_S = 300
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def stamp_of(paths):
    h = hashlib.sha256()
    for f in sorted(paths):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scala_files(base):
    return glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)


def stamps():
    """What each build step depends on: the classes on every engine and
    harness source; the set-up state and expected answers on those, the
    corpus and the canonical form answers are hashed in."""
    build_files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    sources = build_files + scala_files(ENGINE_SRC) + scala_files(os.path.join(HERE, "src"))
    data = glob.glob(os.path.join(DATA, "*.parquet")) + glob.glob(os.path.join(CHECK_DATA, "*.parquet"))
    canonical = [os.path.join(ROOT, "tools", "selfcheck.py")]
    return {"classes": stamp_of(sources), "templates": stamp_of(sources + data + canonical)}


def run_logged(cmd, cwd, logfile, timeout, env=None):
    """Run cmd to completion with output in logfile; kill it on timeout."""
    with open(logfile, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def tail(logfile, n=40):
    with open(logfile, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def sbt_env():
    """The engine's offline sbt settings (as in ROADMAP.md's tier-1
    command) unless the caller set its own."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    return env


def java_cmd(work, args):
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return [java] + opts + ["-cp", cp, "graft.perfbench.Main"] + args


def ensure_built():
    """Build the classes and the set-up state, each unless the sources
    it comes from are unchanged since it was last built."""
    os.makedirs(BUILD, exist_ok=True)
    want = stamps()
    stamp_file = os.path.join(BUILD, "stamps.json")
    have = json.load(open(stamp_file)) if os.path.exists(stamp_file) else {}

    def done(step):
        have[step] = want[step]
        with open(stamp_file, "w") as fh:
            json.dump(have, fh)

    if have.get("classes") != want["classes"]:
        build_log = os.path.join(BUILD, "build.log")
        log("building engine + harness (sbt)")
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], HERE, build_log, BUILD_TIMEOUT_S,
                        sbt_env())
        if rc != 0:
            fail(f"build failed (rc={rc}):\n{tail(build_log)}", 3)
        lines = [l.strip() for l in open(build_log) if l.strip() and not l.startswith("[")]
        if not lines:
            fail("build printed no classpath", 3)
        with open(os.path.join(BUILD, "classpath.txt"), "w") as fh:
            fh.write(lines[-1])
        done("classes")

    templates = os.path.join(BUILD, "templates")
    if have.get("templates") != want["templates"]:
        log("preparing set-up state")
        work = os.path.join(BUILD, "prepare")
        for d in (templates, work):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(work)
        prep_log = os.path.join(BUILD, "prepare.log")
        rc = run_logged(java_cmd(work, ["--mode", "prepare", "--data", DATA,
                                        "--templates", templates, "--work", work,
                                        "--out", os.path.join(work, "unused")]),
                        ROOT, prep_log, BUILD_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            fail(f"set-up state build failed (rc={rc}):\n{tail(prep_log)}", 3)
        log("computing expected corpus answers (DuckDB oracles)")
        with open(os.path.join(templates, "expected.json"), "w") as fh:
            json.dump(expected_answers(os.path.join(templates, "oracle_sql.json")), fh)
        done("templates")


def digest(df):
    """Row count and hash of an answer in the engine selfcheck's
    canonical form."""
    from selfcheck import canon
    c = canon(df)
    return {"columns": list(c.columns), "rows": len(c),
            "sha256": hashlib.sha256(c.to_csv(index=False).encode()).hexdigest()}


def expected_answers(oracle_file):
    """Each corpus query's DuckDB oracle answer over the check corpus,
    as a digest of its canonical form."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(CHECK_DATA, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    return {q: digest(con.sql(sql).df()) for q, sql in sorted(oracle.items())}


def oracle_checks(answers):
    """Compare each corpus query's answer over the check corpus with its
    DuckDB oracle's (precomputed at build time, same canonical form)."""
    import duckdb
    con = duckdb.connect()
    with open(os.path.join(BUILD, "templates", "expected.json")) as fh:
        expected = json.load(fh)
    checks = [{"name": f"oracle.{q}", "ok": False, "detail": "no expected answer"}
              for q in sorted(set(os.listdir(answers)) - set(expected))]
    for q, want in sorted(expected.items()):
        path = os.path.join(answers, q)
        if not glob.glob(os.path.join(path, "*.parquet")):
            checks.append({"name": f"oracle.{q}", "ok": False, "detail": "no answer written"})
            continue
        got = digest(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
        ok = got == want
        checks.append({"name": f"oracle.{q}", "ok": ok,
                       "detail": "" if ok else f"spark {got} vs duckdb {want}"})
    return checks


def report_path(workload, seed, trace):
    return os.path.join(BUILD, "reports", f"{workload}-seed{seed}-trace{trace}.json")


def tracing_overhead(res, workload, seed):
    """Traced minus untraced end-to-end figures, against the untraced
    run of the same seed if there is one, else the latest untraced run."""
    same = report_path(workload, seed, 0)
    others = sorted(glob.glob(os.path.join(BUILD, "reports", f"{workload}-seed*-trace0.json")),
                    key=os.path.getmtime)
    base = same if os.path.exists(same) else (others[-1] if others else None)
    if base is None:
        return None
    with open(base) as fh:
        untraced = json.load(fh)["end_to_end"]
    traced = res["end_to_end"]
    return {"against": os.path.basename(base),
            "delta": {k: traced[k]["value"] - untraced[k]["value"] for k in traced if k in untraced}}


def summarise(res):
    for k, m in res.get("detail", {}).items():
        v = "n/a" if m["value"] is None else f"{m['value']:.4f}"
        log(f"  {k:28s} {v:>14s} {m['unit']}")
    layers = res.get("layers", {})
    if layers:
        log(f"  {'span':32s} {'n':>5s} {'wall_ms':>9s} {'self_ms':>9s} {'gap_ms':>9s} "
            f"{'jobs':>5s} {'tasks':>6s} {'cpu_ms':>9s} {'records':>10s} {'shuffleB':>10s} {'strag':>6s}")
        for name, f in layers.items():
            log(f"  {name:32s} {f['count']:>5.0f} {f['wall_ms']:>9.1f} {f['self_ms']:>9.1f} "
                f"{f['driver_gap_ms']:>9.1f} {f['jobs']:>5.0f} {f['tasks']:>6.0f} "
                f"{f['task_cpu_ms']:>9.1f} {f['input_records']:>10.0f} {f['shuffle_bytes']:>10.0f} "
                f"{f['straggler']:>6.2f}")
    for c in res.get("checks", []):
        if not c["ok"]:
            log(f"  CHECK FAILED {c['name']}: {c['detail']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")
    if shutil.which("sbt") is None or not os.environ.get("SPARK_HOME"):
        fail("sbt and SPARK_HOME are required to build the engine")
    ensure_built()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        run_log = os.path.join(work, "run.log")
        rc = run_logged(java_cmd(work, [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--check-data", CHECK_DATA,
            "--templates", os.path.join(BUILD, "templates"),
            "--work", work, "--out", out]), ROOT, run_log, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            fail(f"{a.workload} run failed (rc={rc}):\n{tail(run_log)}", 1)
        with open(out) as fh:
            res = json.load(fh)
        if a.workload == "corpus_batch":
            res["checks"] += oracle_checks(os.path.join(work, "answers"))
            res["correct"] = res["correct"] and all(c["ok"] for c in res["checks"])
        if a.trace:
            res["tracing_overhead"] = tracing_overhead(res, a.workload, a.seed)
        os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
        with open(report_path(a.workload, a.seed, a.trace), "w") as fh:
            json.dump(res, fh, indent=1)
        summarise(res)
    finally:
        if os.path.exists(os.path.join(work, "run.log")):
            os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
            shutil.copy(os.path.join(work, "run.log"), os.path.join(
                BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
