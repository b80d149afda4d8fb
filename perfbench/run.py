#!/usr/bin/env python3
"""graft benchmark: runs one named workload and prints one JSON result line.

    python3 perfbench/run.py --workload star_etl|query_mix|ingest_commit \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one JVM
(perfbench.Main) that sets up, verifies every op's output once, then times
passes over the workload's ops for at least --seconds. Scratch files live in
perfbench/runs/ and are removed on exit; a traced run (--trace 1) also
writes its analysed trace to perfbench/traces/.

Workloads:
  star_etl       StarBuilder.runPipeline on a seeded 378,661-row Kickstarter
                 CSV, into a fresh warehouse per op.
  query_mix      read-only named queries (2 scan/agg/join, 3 operator ops)
                 on perfbench/data, in a seed-permuted order per pass.
  ingest_commit  named queries that write: TxTable streams, a TxTable merge
                 and TxGroup commits, seed-permuted per pass.

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics without --trace, the per-layer metrics with it. The lines
before it name every metric with its unit and sample count, and record the
host's contention (nproc, load average, CPU steal share) during the run.
"""
import argparse
import glob
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
sys.path.insert(0, str(HERE))
import analysis  # noqa: E402

WORKLOADS = ("star_etl", "query_mix", "ingest_commit")
DATA = HERE / "data"
BUILD = HERE / ".build"
RUN_LIMIT_S = 175  # a run must end within 180 s of its start
BUILD_LIMIT_S = 700
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src" / "main"]
    files = []
    for r in roots:
        files += [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build_classpath():
    """The runtime classpath, and whether it had to be built first."""
    stamp = hashlib.sha256()
    for f in source_files():
        stamp.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    digest = stamp.hexdigest()
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == digest:
        return cp_file.read_text().strip(), False
    sbt = shutil.which("sbt")
    if not sbt:
        fail(3, "sbt not found on PATH")
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    # resolve only from local caches, as the root build's own test command does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    with open(log, "w") as out:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    lines = log.read_text().splitlines()
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(3, f"build failed (log: {log})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(digest)
    return lines[-1].strip(), True


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def stream_scratch_key():
    """The suffix the engine gives the stream scratch dirs of this data dir
    (graft.queries.Scratch.freshDir keys by the qualified source URI)."""
    return hashlib.md5(f"file:{DATA}".encode()).hexdigest()[:16]


def cleanup(work):
    shutil.rmtree(work, ignore_errors=True)
    for d in glob.glob(f"/dev/shm/graft_stream_*_{stream_scratch_key()}"):
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, args, work, deadline):
    out = work / "record.json"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            # call sites deep enough to reach the graft frame under Spark's
            "-Dspark.callstack.depth=400",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(DATA), "--work", str(work), "--out", str(out)]
    wl = analysis.QUERY_WORKLOADS.get(args.workload)
    if wl:
        cmd += ["--ops", ",".join(wl["ops"]), "--stages", ",".join(wl["stages"]),
                "--passes", str(wl["passes"])]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            tail = (work / "jvm.log").read_text().splitlines()[-20:]
            sys.stderr.write("\n".join(tail) + "\n")
            return None, "timed out"
        finally:
            # a timeout or a signal to this script must not leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        return None, f"JVM exited with {proc.returncode}"
    return json.loads(out.read_text()), None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.monotonic()
    # SIGTERM unwinds like an exception, so the JVM and scratch are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(2, f"no graft sources under {ROOT}; run from the root of a full checkout")
    if not DATA.is_dir() or not any(DATA.glob("*.parquet")):
        fail(2, f"benchmark data missing under {DATA}")
    cp, built = build_classpath()

    load0, (tot0, steal0) = loadavg(), cpu_times()
    work = HERE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cleanup(work)
    (work / "tmp").mkdir(parents=True)
    try:
        # a run that had to build first still gives its JVM the whole budget
        deadline = (time.monotonic() if built else started) + RUN_LIMIT_S
        record, err = run_jvm(cp, args, work, deadline)
    finally:
        cleanup(work)
    tot1, steal1 = cpu_times()
    host = {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": load0, "loadavg_end": loadavg(),
            "steal_share": (steal1 - steal0) / (tot1 - tot0) if tot1 > tot0 else 0.0}
    print("host " + json.dumps(host))
    if record is None:
        fail(4, f"{args.workload} seed {args.seed}: {err}")

    setup = record["setup"]
    print("phases " + json.dumps(dict(setup, passes_s=[(p["end"] - p["start"]) / 1e3 for p in record["passes"]],
                                      run_s=time.monotonic() - started)))
    expected = json.loads((HERE / "expected.json").read_text())
    attempted, failed, problems = analysis.judge(record, expected)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    csv_bytes = next((c["csv_bytes"] for c in record["checks"] if "csv_bytes" in c), 0)

    if args.trace:
        metrics, breakdowns = analysis.per_layer(record, csv_bytes)
        units = analysis.LAYER_UNITS
        for k in units:
            print(f"layer {k} = {metrics.get(k, 0.0):.6g} {units[k]}")
        traces = HERE / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(
            {"workload": args.workload, "seed": args.seed, "host": host, "metrics": metrics,
             "passes": breakdowns}, indent=1))
        if metrics["trace.residual_max"] > analysis.RESIDUAL_LIMIT:
            # a trace-quality flag, not an output check: the op's outputs are fine
            print(f"trace flag: plan + job union + driver gap overshoots an op's wall by "
                  f"{metrics['trace.residual_max']:.3f} of it (limit {analysis.RESIDUAL_LIMIT})")
        out = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = analysis.end_to_end(record)
        units = analysis.END_TO_END_UNITS
        for k, (v, n) in metrics.items():
            print(f"metric {k} = {v:.6g} {units[k]} (n={n})")
        print(f"metric failed_ops = {failed / attempted:.6g} share (n={attempted})")
        for op, (v, n) in analysis.op_medians(record).items():
            print(f"op {op} = {v:.4g} s (n={n})")
        out = {k: {"value": metrics[k][0], "unit": u} for k, u in units.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
