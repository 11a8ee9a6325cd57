#!/usr/bin/env python3
"""Repo benchmark entry point.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine plus the benchmark with
sbt when the sources changed since the last build, runs one workload in
one JVM (perfbench.Main), checks its outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The full record goes to perfbench/results/. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
JAVA_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800
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


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build's stamp;
    returns the runtime classpath."""
    want = digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    log("building engine + benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export runtime:fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


def run_java(cp, args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", args.sf, "--work", work, "--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's stdout goes to our stderr: stdout carries only the result
    p = subprocess.run(cmd, stdout=sys.stderr, stderr=subprocess.PIPE, text=True,
                       timeout=JAVA_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-6000:])
        raise SystemExit(f"benchmark JVM exited with {p.returncode}")


def main():
    # SIGTERM unwinds like an error, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run from a checkout of the repository: engine sources missing")
    args.sf = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(
        "~/testdata/sf0.1")
    if not os.path.isfile(os.path.join(args.sf, "lineitem.parquet")):
        raise SystemExit(f"no sf0.1 tables at {args.sf} (set SPARK_GRAFT_SF_DIR)")

    cp = build()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        t0 = time.monotonic()
        run_java(cp, args, work, raw_path)
        jvm_s = time.monotonic() - t0
        with open(raw_path) as fh:
            raw = json.load(fh)
        checks = list(raw["checks"])
        attempted = len(raw["plain"]) + len(raw.get("traced", [])) + len(checks)
        n_failed = len(raw["failures"]) + sum(1 for c in checks if not c["ok"])
        t0 = time.monotonic()
        check_dir = os.path.join(work, "check")
        if args.workload.startswith("olap"):
            # the check pass always leaves this file; a missing one fails loudly
            with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
                sqls = json.load(fh)
            verdicts = oracle.run(ROOT, args.sf, check_dir, sqls,
                                  os.path.join(HERE, "work", "oracle-cache"))
            bad = {q: why for q, why in verdicts.items() if why}
            checks.append({"name": "oracle", "ok": not bad,
                           "detail": f"{len(verdicts) - len(bad)} pass / {len(bad)} fail",
                           "failures": bad})
            attempted += len(verdicts)
            n_failed += len(bad)
        oracle_s = time.monotonic() - t0
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            vals, missing = metrics.per_layer(raw, names)
            if missing:
                raise SystemExit(f"per-layer metrics not produced: {missing}")
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            vals = metrics.end_to_end(raw)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics.check_names(list(vals))
        correct = n_failed == 0
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": raw["cpus"], "ops": len(raw["plain"]),
            "jvm_s": jvm_s, "oracle_s": oracle_s,
            "error_rate": n_failed / max(1, attempted),
            "setup_s": raw["setup_s"], "warm_s": raw["warm_s"],
            "cached_mb": raw["cached_bytes"] / 1e6,
            "medians": metrics.medians(raw),
            "tail": metrics.highest_tail([o["ms"] for o in raw["plain"]]),
            "steadiness": metrics.steadiness(raw["plain"]),
            "span_ms_p50": metrics.span_medians(raw["plain"]),
            "checks": checks, "failures": raw["failures"],
            "workload_detail": raw["detail"], "metrics": vals,
        }
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(results, stem + ".json"), "w") as fh:
            json.dump(detail, fh, indent=1)
        shutil.copy(raw_path, os.path.join(results, stem + ".raw.json"))
        if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(results, stem + ".spans.jsonl"))
        log(json.dumps({k: detail[k] for k in
                        ("ops", "error_rate", "tail", "steadiness",
                                  "span_ms_p50", "setup_s", "warm_s", "jvm_s",
                                  "oracle_s")}))
        for c in checks:
            if not c["ok"]:
                log(f"CHECK FAILED {c['name']}: {c['detail']}")
        for f in raw["failures"]:
            log(f"OPERATION FAILED {f['op']}: {f['error']}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": n_failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
