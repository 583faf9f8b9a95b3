#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, seeded inputs.

    python3 benchmark/run.py --workload etl_incremental --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the program from
source (sbt, offline) into benchmark/target and caches the classpath;
later runs reuse it while the sources are unchanged. Each run generates
its inputs from --seed into a fresh work directory under
benchmark/.work/, runs one JVM (graftbench.Main) for set-up, the timed
passes and the correctness checks, and deletes the work directory at
exit. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Every sample, the environment and both metric sets are appended to
benchmark/results/c<cpus>/<workload>.jsonl, keyed by core count so a
run at another core count is never compared against them.

    python3 benchmark/run.py --calibrate

re-derives corpus_pool.json: every read-only corpus entry with an oracle,
timed on the generated fixtures and checked against DuckDB.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from graftbench import checks, inputs, stats  # noqa: E402

WORKLOADS = ("etl_incremental", "corpus_mix")
HEAP = "-Xms1g -Xmx1g -XX:+AlwaysPreTouch"
JVM_TIMEOUT_S = 160
CORPUS_ENTRIES = 12
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("benchmark: no Spark distribution (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of everything the build compiles, so a stale classpath is
    never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) once per source state; returns the
    runtime classpath."""
    cache = os.path.join(HERE, ".work", "build.json")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    home_sbt = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(home_sbt):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={home_sbt} -Dsbt.offline=true -Xmx2g")
    # keep sbt's scratch files in the checkout (and no JVM perf files in /tmp)
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    env["TMPDIR"] = tmp
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [x for x in out.stdout.splitlines() if x.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("benchmark: build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(classpath, work, workload, seconds, trace, timeout=JVM_TIMEOUT_S):
    """One JVM for the whole run; its records land in work/records.json."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *HEAP.split(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", classpath, "graftbench.Main", "--workload", workload,
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--work", work, "--out", os.path.join(work, "records.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env = {k: v for k, v in env.items() if not k.startswith("GRAFT_")}
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark: JVM exited with {rc}")
    with open(os.path.join(work, "records.json")) as f:
        return json.load(f)


def load_pool():
    with open(os.path.join(HERE, "corpus_pool.json")) as f:
        return json.load(f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def correctness(records, workload, work, manifest):
    """(all_correct, mismatches): ETL tables against the direct recompute,
    corpus entries against the DuckDB oracle; task errors count too."""
    if workload == "corpus_mix":
        sql = next(r["sql"] for r in records if r["kind"] == "oracles")
        verdict = checks.corpus(ROOT, os.path.join(work, "fixtures"),
                                os.path.join(work, "check"), sql)
        ran = {r["name"] for r in records if r["kind"] == "op"}
        if set(sql) != ran:
            verdict["missing oracle"] = sorted(ran - set(sql))
    else:
        state = next(r for r in records if r["kind"] == "state")
        verdict = checks.etl(work, state["schema"], manifest, state["applied"])
        errors = [e for r in records if r["kind"] == "pass" for e in r.get("errors", [])]
        if errors:
            verdict["task errors"] = errors
    bad = {k: v for k, v in verdict.items() if v}
    return bool(verdict) and not bad, bad


def store(workload, record):
    d = os.path.join(HERE, "results", f"c{record['env']['cpus']}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", action="store_true")
    a = ap.parse_args()
    if not a.calibrate and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("benchmark: the graft sources (src/main/scala/graft) are missing; "
                         "run from a full checkout")
    load_start = os.getloadavg()[0]
    classpath = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        pool = load_pool()
        manifest = inputs.generate(work, a.seed)
        names = ([] if a.calibrate else
                 inputs.sample_entries(pool["entries"], pool["sample_seed"], CORPUS_ENTRIES))
        with open(os.path.join(work, "entries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        workload = "calibrate" if a.calibrate else a.workload
        records = run_jvm(classpath, work, workload, a.seconds, a.trace,
                          timeout=3600 if a.calibrate else JVM_TIMEOUT_S)
        if a.calibrate:
            return calibrate(records, work, pool)
        first_timed = min(r["t0_ns"] for r in records
                          if r["kind"] == "pass" and r["phase"] == "timed")
        jvm_start = next(r for r in records if r["kind"] == "session")
        setup_s = (jvm_start["wall_ms"] / 1e3 - t0) + (first_timed - jvm_start["start_ns"]) / 1e9
        e2e, attempted, failed, samples = stats.end_to_end(records, setup_s)
        layers, per_pass = stats.per_layer(records) if a.trace else ({}, [])
        ok, details = correctness(records, a.workload, work, manifest)
        if failed:
            ok = False
        proc = next(r for r in records if r["kind"] == "process")
        env = {"cpus": proc["cpus"], "heap": HEAP, "max_heap_b": proc["max_heap_b"],
               "load1_start": load_start, "load1_end": os.getloadavg()[0],
               "commit": git_commit(), "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "n_tasks": manifest["n_tasks"], "entries": names}
        if a.trace:
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                       for k, u in stats.LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        phases = {"session_s": jvm_start["ns"] / 1e9, "jvm_start_s": jvm_start["wall_ms"] / 1e3 - t0,
                  "total_s": time.time() - t0,
                  # [pass, phase, traced, wall s, run window day (the delta it merged)]
                  "passes": [[r["pass"], r["phase"], r["traced"], r["wall_ns"] / 1e9,
                              r.get("start_dt")]
                             for r in records if r["kind"] == "pass"]}
        store(a.workload, {"workload": a.workload, "env": env, "correct": ok, "phases": phases,
                           "attempted": attempted, "failed": failed,
                           "mismatches": details, "samples": samples,
                           "end_to_end": {k: v for k, (v, _) in e2e.items()},
                           "per_layer": layers, "per_layer_passes": per_pass,
                           "records": records if a.trace else None})
        if details:
            log(f"correctness: {json.dumps(details)[:2000]}")
        log(f"cpus={env['cpus']} load1={load_start:.2f}->{env['load1_end']:.2f} "
            f"timed_passes={len(samples['pass_wall_s'])} ops={attempted} "
            f"p75 tail={samples['op_p75']['tail']}")
        print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def calibrate(records, work, pool):
    """Keep the candidates that ran, match their oracle, are not in the
    pool's ``exclude`` list and stay within its time caps (noop-pass time
    and oracle check time, both part of every run), with the measured
    costs the sample stratifies on."""
    sql = next(r["sql"] for r in records if r["kind"] == "oracles")
    family = next(r["entries"] for r in records if r["kind"] == "families")
    check_s = {}
    verdict = checks.corpus(ROOT, os.path.join(work, "fixtures"), os.path.join(work, "check"),
                            sql, timeout_s=20, seconds=check_s)
    cost = {r["name"]: (r["t1_ns"] - r["t0_ns"]) / 1e6 for r in records
            if r["kind"] == "op" and r["pass"] == 1 and r["status"] == "succeeded"}
    # entries seen to disagree with their oracle on other seeds' data
    reason = dict(pool.get("exclude", {}))
    for n, v in verdict.items():
        if n in reason:
            continue
        if v is not None or n not in cost:
            reason[n] = v or "failed in Spark"
            log(f"rejected {n}: {reason[n]}")
        elif cost[n] > pool["max_entry_ms"]:
            reason[n] = "over max_entry_ms"
        elif check_s[n] * 1e3 > pool["max_oracle_ms"]:
            reason[n] = "over max_oracle_ms"
    pool["entries"] = [{"name": n, "family": family[n], "cost_ms": round(cost[n], 1),
                        "oracle_ms": round(check_s[n] * 1e3, 1)}
                       for n in sorted(verdict) if n not in reason]
    pool["rejected"] = dict(sorted(reason.items()))
    with open(os.path.join(HERE, "corpus_pool.json"), "w") as f:
        f.write(json.dumps(pool, indent=1, sort_keys=True) + "\n")
    log(f"calibrated: {len(pool['entries'])} entries kept, {len(reason)} rejected")
    return 0


if __name__ == "__main__":
    sys.exit(main())
