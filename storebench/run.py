#!/usr/bin/env python3
"""Store benchmark: builds the repository from source, runs one workload and
prints one JSON result as its last stdout line.

usage: python3 storebench/run.py
           --workload <ingest|read|operators|lifecycle|operators_full>
           --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles the repository
and the benchmark with sbt (offline) and copies the compiled classes into
.bench_build/classes-<fingerprint>/, keyed by a hash of the sources; later
runs on the same sources reuse that copy. The JVM is then started
directly, with local[min(4, nproc)] Spark.

--trace 0 reports the end-to-end metrics named in BENCHMARK.json;
--trace 1 records op and Spark job spans and reports the per-layer metrics
(see report.py). Every run's full record, with its environment record,
goes to .bench_build/runs/<workload>-seed<n>-trace<t>.json.

STOREBENCH_DATA sets the fixture directory (default: the sf0.1 fixtures of
TESTDATA.md).
The JVM gets 170 s for ingest, read and operators, and 900 s for
lifecycle and operators_full, whose set-up alone takes minutes.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = "/root/testdata/sf0.1"  # the fixture location TESTDATA.md documents

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"storebench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or interrupt, kill the
    whole group (sbt and Spark start children) and wait for it. Returns
    (exit code, stdout), or None on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            return None
        raise


def source_fingerprint():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            roots += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile with sbt once per source fingerprint; return the classpath.

    sbt compiles into the shared target/ directories, which the next build
    of other sources overwrites. The compiled class directories are
    therefore copied into .bench_build/classes-<fingerprint>/, and the
    saved classpath names the copies, so a cached classpath always holds
    the classes of the sources it was built from."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the repository's build.sbt and src/main are missing; run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, f"classpath-{fp}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as err:
        res = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.autostart=false",
                         "compile", "export Runtime/fullClasspath"],
                        840, cwd=HERE, env=env, stderr=err)
    if res is None:
        fail(f"build timed out; see {log}")
    code, out = res
    with open(log, "a") as f:
        f.write(out)
    cps = [l.strip() for l in out.splitlines()
           if "storebench" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        fail(f"build failed (exit {code}); see {log}")
    classes = os.path.join(BUILD, f"classes-{fp}")
    shutil.rmtree(classes, ignore_errors=True)
    cp = []
    for i, p in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(p):
            dst = os.path.join(classes, str(i))
            shutil.copytree(p, dst)
            p = dst
        cp.append(p)
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    return os.pathsep.join(cp)


def run_jvm(cp, args, data, work, spans, log):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "storebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data,
            "--work", work, "--spans", spans]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    timeout = 170 if args.workload in ("ingest", "read", "operators") else 900
    with open(log, "w") as err:
        res = run_group(cmd, timeout, cwd=ROOT, stderr=err)
    if res is None:
        fail(f"the run exceeded {timeout} s; see {log}", 3)
    code, out = res
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"the run failed (exit {code}); see {log}", 4)
    return json.loads(lines[-1])


def declared_metrics(trace):
    """(name, unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "read", "operators", "lifecycle",
                             "operators_full"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    data = os.environ.get("STOREBENCH_DATA", DATA)
    if not os.path.isfile(os.path.join(data, "events.parquet")):
        fail(f"no events fixture under {data}")
    cp = classpath()
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans = report.run_path(args.workload, args.seed, 1, "spans.jsonl")
    work = os.path.join(BUILD, "work", str(os.getpid()))
    try:
        res = run_jvm(cp, args, data, work, spans, os.path.join(runs, name + ".log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(res["metrics"])
    if args.trace:
        measured = {k: {"value": v, "unit": u}
                    for k, (v, u) in report.layer_metrics(spans).items()}
        res["layers"] = measured
    with open(os.path.join(runs, name + ".json"), "w") as f:
        json.dump(res, f, indent=1)

    # A per-layer metric of an op the workload does not run reads 0.
    picked = {}
    for m, unit in declared_metrics(args.trace):
        if m in measured:
            picked[m] = measured[m]
        elif args.trace:
            picked[m] = {"value": 0.0, "unit": unit}
    print(json.dumps({"env": res["env"], "errors": res["errors"],
                      "workload_metrics": {k: v["value"] for k, v in res["metrics"].items()}}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": picked}))


if __name__ == "__main__":
    main()
