#!/usr/bin/env python3
"""CDC pipeline benchmark: one command per workload, metrics checked against DuckDB.

    python3 perfbench/run.py --workload batch_rebuild --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
repository and the benchmark program in ``perfbench/`` with sbt (offline) and caches
the classpath under ``.bench_build/``; inputs for each (workload, seed) are
generated once under ``.bench_work/inputs/`` together with the DuckDB
reference answers. The benchmark JVM then sets up Spark, measures, and reports
what it observed; this script checks every observed output against the
reference and prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json for the
workload; ``--trace 1`` reports its per-layer metrics (the traced run covers
both pipelines) and writes the span trace to ``.bench_work/trace/``. The
exit code is 0 only when every check passed.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import gen  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
RUN_LIMIT_S = 170  # a run must end within 180 s, builds excepted
KEEP_SEEDS = 3  # generated inputs kept per workload

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project", ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}")
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (exit {r.returncode}); see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; keep the last few seeds' copies."""
    base = WORK / "inputs"
    base.mkdir(parents=True, exist_ok=True)
    dest = base / f"{workload}-{seed}"
    if dest.is_dir():
        dest.touch()
    for old in sorted(base.glob(f"{workload}-*"), key=lambda p: p.stat().st_mtime)[:-KEEP_SEEDS]:
        if old != dest:
            subprocess.run(["rm", "-rf", str(old)], check=True)
    t0 = time.time()
    exp = gen.generate(workload, seed, str(dest))
    print(f"perfbench: {workload} inputs for seed {seed} ready in {time.time() - t0:.1f} s "
          "(not part of setup_s)", file=sys.stderr)
    return dest, exp


def jvm(cp, flags, log_path, limit_s):
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # a fixed heap and young generation, so peak RSS does not follow G1's
    # adaptive sizing from run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", *ADD_OPENS, "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}", "-cp", cp,
            "perfbench.PerfBench"] + [str(x) for kv in flags.items() for x in (f"--{kv[0]}", kv[1])])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {limit_s:.0f} s; see {log_path}")
    if r.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM exited {r.returncode}; see {log_path}")


def batch_checks(obs, exp, traced):
    checks = {
        "history rows = reference rows": obs["history_rows"] == exp["history_rows"],
        "history rows = generated events": obs["history_rows"] == exp["events"],
        "history checksum = reference": obs["history_checksum"] == exp["history_checksum"],
        "current rows = generated keys": obs["current_rows"] == exp["keys"],
        "live rows = generated live keys": obs["live_rows"] == exp["live_keys"],
        "live rows = reference live rows": obs["live_rows"] == exp["live_rows"],
    }
    # the traced run serves a prefix of the lookups: check those it answered
    got = obs["lookups"]
    checks["lookups answered"] = len(got) > 0
    for i, q in enumerate(exp["lookups"][:len(got)] if traced else exp["lookups"]):
        checks[f"lookup {i} ({q['kind']}) = reference"] = i < len(got) and got[i] == q["expected"]
    return checks


def stream_checks(obs, exp):
    return {
        "final state rows = distinct keys": obs["state_rows_final"] == exp["keys"],
        "distinct (id, lsn) in sink = events": obs["stream_versions"] == exp["events"],
        "stream input rows = input lines": obs["stream_input_rows"] == exp["input_lines"],
        "converged stream history checksum = batch reference": obs["stream_checksum"] == exp["history_checksum"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"no repository sources at {ROOT} (build.sbt, src/main/scala): nothing to measure")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = classpath()
    t_start = time.time()
    flags = {"workload": a.workload, "trace": a.trace, "seconds": a.seconds, "work": WORK,
             "run-id": f"{a.workload}-{a.seed}-{os.getpid()}-{int(t_start)}"}
    exps = {}
    for w in (gen.WORKLOADS if a.trace else [a.workload]):
        dest, exps[w] = inputs(w, a.seed)
        if w == "batch_rebuild":
            flags.update({"batch-lake": dest / "lake", "batch-events": exps[w]["events"],
                          "lookups": dest / "lookups.tsv"})
        else:
            flags.update({"stream-slices": dest / "slices", "stream-events": exps[w]["events"]})
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    (WORK / "trace").mkdir(parents=True, exist_ok=True)
    out = WORK / f"result-{a.workload}-{a.trace}.json"
    flags["out"] = out
    flags["trace-out"] = WORK / "trace" / f"{a.workload}-seed{a.seed}.json"
    out.unlink(missing_ok=True)
    jvm(cp, flags, WORK / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log",
        RUN_LIMIT_S - (time.time() - t_start))
    res = json.loads(out.read_text())

    obs = res["observed"]
    checks = {}
    if "batch_rebuild" in exps:
        checks.update(batch_checks(obs, exps["batch_rebuild"], a.trace))
    if "stream_replay" in exps:
        checks.update(stream_checks(obs, exps["stream_replay"]))
    bad = [k for k, ok in checks.items() if not ok]
    for k in bad:
        print(f"perfbench: check failed: {k}", file=sys.stderr)
    missing = [m["name"] for m in declared if m["name"] not in res["metrics"]]
    if missing:
        fail(f"benchmark JVM did not report {missing}")
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(bad)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
