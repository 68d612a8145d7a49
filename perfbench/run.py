"""graft's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library and
the benchmark program with sbt; every run then generates its inputs from the seed,
runs one JVM (`local[2]`, one client thread) that sets up, warms up and
measures the workload, checks every output, and prints its metrics. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["etl_cookbook", "query_mix", "stream_ingest"]
HEAP = "2g"
BUILD_TIMEOUT = 850
RUN_LIMIT = 170  # seconds for a whole invocation, build excluded

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
              ("latency_p50_s", "s"), ("latency_p90_s", "s"),
              ("live_heap_peak_mb", "MB")]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root):
    """Digest of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha256()
    for base in ["build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"]:
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, state):
    """Compile the library and the benchmark program; returns the runtime
    classpath."""
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing under {root}")
    digest = source_digest(root)
    cp_file = os.path.join(state, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark program with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    # class directories become jars: the JVM's class-data sharing archive
    # (see run_jvm) only covers classes loaded from jars
    lib = os.path.join(state, f"lib-{digest}")
    os.makedirs(lib, exist_ok=True)
    cp = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(lib, f"classes{i}.jar")
            subprocess.run(["jar", "cf", jar, "-C", entry, "."], check=True, timeout=120)
            entry = jar
        cp.append(entry)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    return os.pathsep.join(cp), digest


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, timeout, cds):
    """Run the benchmark JVM. The first run in a checkout records the
    classes it loads into a class-data sharing archive, `cds`; later runs
    map it, which takes seconds off JVM and Spark start-up."""
    share = ([f"-XX:SharedArchiveFile={cds}"] if os.path.exists(cds)
             else [f"-XX:ArchiveClassesAtExit={cds}.tmp"])
    # a fixed 64 MB young generation collects every ~64 MB allocated, so
    # live_heap_peak_mb samples the heap all through a job; with G1's own
    # young sizing (up to 1.2 GB) a query pass saw one collection, and the
    # peak swung between 190 and 300 MB from run to run
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xmn64m", "-XX:+UseG1GC",
           "-XX:-UsePerfData"] + share + [
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"benchmark JVM exceeded {timeout:.0f}s")
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed with exit code {rc}")
    if os.path.exists(f"{cds}.tmp"):
        os.replace(f"{cds}.tmp", cds)


def quantile(xs, q):
    """Percentile with linear interpolation (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def per_layer(result, spec):
    """Every per-layer metric BENCHMARK.json names; 0 for a layer the
    workload does not exercise."""
    tr = result.get("trace", {})
    vals = {}
    vals.update(result["setup"])
    vals.update({"sources.rows": result["input"]["rows"],
                 "sources.input_bytes": result["input"]["bytes"],
                 "sources.files": result["input"]["files"]})
    vals.update(tr.get("counts", {}))
    vals.update(tr.get("layers", {}))
    vals.update(tr.get("engine", {}))
    for k in ["trace.wall_s", "trace.self_sum_s", "trace.unattributed_s", "trace.overhead_s"]:
        vals[k] = tr.get(k, 0.0)
    return {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True, choices=[0, 1])
    a = ap.parse_args()
    root = os.getcwd()
    state = os.path.join(root, ".bench_build", "perfbench")
    spec_path = os.path.join(root, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if a.trace else None

    cp, digest = build(root, state)
    t_start = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    inp = os.path.join(state, "in", tag)
    work = os.path.join(state, "work", tag)
    for d in (inp, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    # the stream replays its schedule twice when traced (untraced, traced)
    span = a.seconds * (2 if a.trace and a.workload == "stream_ingest" else 1)
    t0 = time.time()
    stats = gen.generate(a.workload, a.seed, inp, span)
    gen_s = time.time() - t0
    t0 = time.time()
    out = os.path.join(work, "result.json")
    run_jvm(cp, ["--workload", a.workload, "--in", inp, "--work", work, "--out", out,
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed)],
            work, timeout=max(30, RUN_LIMIT - (time.time() - t_start)),
            cds=os.path.join(state, f"cds-{digest}.jsa"))
    result = json.load(open(out))
    jvm_s = time.time() - t0
    t0 = time.time()
    bad, notes = check.CHECKS[a.workload](inp, work, result)
    log(f"generate {gen_s:.1f}s, jvm {jvm_s:.1f}s, checks {time.time() - t0:.1f}s")
    shutil.rmtree(inp, ignore_errors=True)  # the seed regenerates it
    # every operation counts, traced ones too; a failed one has no timing
    ops = result["ops"]
    bad |= {i for i, o in enumerate(ops) if o["error"]}
    attempted = len(ops)
    failed = len(bad)
    lat = [o["latency_s"] for i, o in enumerate(ops) if i not in bad and not o["traced"]]
    jobs = [j for j in result["jobs"] if not j["traced"]]
    metrics = {}
    if lat and jobs:
        metrics = {
            "setup_s": result["setup"]["setup_s"],
            "wall_s": statistics.median(j["wall_s"] for j in jobs),
            "cpu_s": statistics.median(j["cpu_s"] for j in jobs),
            "latency_p50_s": quantile(lat, 0.5),
            "latency_p90_s": quantile(lat, 0.9),
            "live_heap_peak_mb": result["live_heap_peak_mb"],
        }
    extra = {
        "fail_ratio": failed / max(1, attempted),
        "out_bytes_per_in_byte": (statistics.median(j["out_bytes"] for j in jobs) /
                                  max(1, stats["bytes"])) if jobs else 0.0,
        "jobs": len(jobs),
        "ops_per_job": sum(not o["traced"] for o in ops) / max(1, len(jobs)),
    }
    stamp = {"git_commit": git_commit(root), "source_digest": digest,
             "nproc": os.cpu_count(), "generator_s": gen_s, "seed": a.seed,
             "input_rows": stats["rows"], "input_bytes": stats["bytes"],
             "input_files": stats["files"], "stream_rate_files_per_s":
             gen.STREAM_RATE if a.workload == "stream_ingest" else None}
    stamp.update(result["env"])
    correct = failed == 0 and bool(metrics)
    full = {"workload": a.workload, "trace": a.trace, "env": stamp, "metrics": metrics,
            "extra": extra, "attempted": attempted, "failed": failed, "notes": notes,
            "setup": result["setup"], "setup_reps": result["setup_reps"]}
    if a.trace:
        # no per-layer figures from a run in which a traced operation failed
        full["per_layer"] = {} if failed else per_layer(result, spec["per_layer"])
        full["spans"] = result["trace"]["spans"]
        full["per_query_s"] = {k: v for k, v in result["trace"]["counts"].items()
                               if k.startswith("queries.")}
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    res_path = os.path.join(state, "results", f"{tag}.json")
    with open(res_path, "w") as f:
        json.dump(full, f, indent=1)

    if failed:
        log(f"{failed} of {attempted} operations failed: {json.dumps(notes)[:2000]}")
    units = dict(END_TO_END)
    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {units[k]}")
    for k, v in extra.items():
        print(f"{a.workload} {k} = {v:.6g}")
    print(f"{a.workload} result file: {os.path.relpath(res_path, root)}")
    if a.trace:
        shown = full["per_layer"]
    else:
        shown = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
