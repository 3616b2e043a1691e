#!/usr/bin/env python3
"""Benchmark of the two reference streaming jobs, run from the root of a
checkout:

  python3 perfbench/run.py --workload media_jdbc|hot_items --seed N \
      --seconds S --trace 0|1

It builds the engine and the harness (`perfbench/build.sbt`) into
`.bench_build` when their sources changed, generates the seed's inputs,
runs `perfbench.StreamBench` (one JVM writes the wire files, a second
one runs the job), checks every sink row against DuckDB over the same
wire files, and prints one JSON object as the last line of stdout.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Each run works in a fresh `.bench_build/run/` and
leaves a record with its provenance in `.bench_build/records/`.

Each run sets up, drains a fixed backlog in a closed loop for about half
of `--seconds`, then offers files on a seeded wall-clock schedule (open
loop) for the rest, at about a third of the drain rate.
"""
import argparse
import glob
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
import check  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# the JVM and the checks after it must end within the run's 180 s
DEADLINE_S = 170


def sources_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def build_inputs():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p) and "/target/" not in p]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_sha():
    """HEAD of the repository whose top level is ROOT, else None (a plain
    checkout, or one nested inside some other repository)."""
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except OSError:
        return None
    return top[1] if len(top) == 2 and os.path.realpath(top[0]) == os.path.realpath(ROOT) else None


def build(out):
    """Compile with sbt when the sources changed; returns (classpath,
    JVM options) as exported by the harness build."""
    stamp = source_hash()
    cached = os.path.join(out, "build.json")
    if os.path.isfile(cached):
        with open(cached) as fh:
            b = json.load(fh)
        if b["stamp"] == stamp and all(map(os.path.exists, b["classpath"].split(os.pathsep))):
            return b["classpath"], b["java_options"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the launcher starts keeps its scratch files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS=" ".join([
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath", "print javaOptions"]
    p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    opts = [l[2:] for l in lines if l.startswith("* ")]
    if p.returncode != 0 or not cp or "--add-opens" not in opts:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    b = {"stamp": stamp, "classpath": cp[-1], "java_options": opts}
    with open(cached, "w") as fh:
        json.dump(b, fh)
    return b["classpath"], b["java_options"]


def run_jvm(classpath, java_options, work, args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + java_options + [
        # a fixed heap: the full GCs that measure retained heap would
        # otherwise shrink it right before the open loop
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", classpath, "perfbench.StreamBench"] + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(work, f"jvm-{args['phase']}.log")
    with open(log_path, "w") as log:
        p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(1, timeout))
    if p.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM ({args['phase']}) exited with {p.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not sources_present():
        raise SystemExit("engine sources not found: run from the root of a full checkout")

    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    classpath, java_options = build(out)
    gen.write_tables(os.path.join(work, "data"), a.seed, documents=bool(a.trace))

    args = {"workload": a.workload, "work": work, "seed": a.seed, "seconds": a.seconds,
            "cores": len(os.sched_getaffinity(0)), "trace": a.trace}
    t0 = time.monotonic()
    # wire files are written in a JVM of their own, so that the set-up
    # the run measures is the first Spark work of its JVM
    run_jvm(classpath, java_options, work, {"phase": "prepare", **args}, DEADLINE_S)
    run_jvm(classpath, java_options, work, {"phase": "run", **args},
            DEADLINE_S - (time.monotonic() - t0))
    with open(os.path.join(work, "out", "result.json")) as fh:
        result = json.load(fh)

    expected = check.expected_rows(a.workload, os.path.join(work, "main", "in"))
    actual = check.sink_rows(a.workload, os.path.join(work, "out", "sink.csv"))
    attempted, failed = check.score(expected, actual)
    due, commits = check.read_timings(os.path.join(work, "out"))
    lat = check.latencies(expected, actual, due, commits)
    if not check.supported(95, len(lat)):
        raise SystemExit(f"{len(lat)} open-loop latency samples cannot support a p95")
    correct = failed == 0 and result["state.late_rows"] == 0
    result["latency_p50_ms"] = check.percentile(lat, 50)
    result["latency_p95_ms"] = check.percentile(lat, 95)
    result["latency.samples"] = len(lat)

    metrics = {m["name"]: {"value": result[m["name"]], "unit": m["unit"]}
               for m in SPEC["per_layer" if a.trace else "end_to_end"]}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "git_sha": git_sha(), "source_sha256": source_hash(), "nproc": args["cores"],
              "correct": correct, "attempted": attempted, "failed": failed, "result": result}
    os.makedirs(os.path.join(out, "records"), exist_ok=True)
    with open(os.path.join(out, "records", f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
