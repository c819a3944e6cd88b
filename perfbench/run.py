#!/usr/bin/env python3
"""Benchmark front end for the engine.

    python3 perfbench/run.py --workload <query_mix|scale_batch> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (perfbench/jvm) with sbt; later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed, runs
one driver process (one Spark session at local[nproc], one client
thread) for the set-up, an untimed warm-up and a closed loop of about
`--seconds`, checks every output, and prints a run record line and then,
as the last line, the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (the timed loop runs twice, untraced and then traced).
Exits non-zero, printing no result, when the engine's sources are missing
or the build or the driver process fails.
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
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import lake  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("query_mix", "scale_batch")
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit needs these module opens
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# scale_batch input size: TPC-H at this scale factor, and the document corpus
SCALE_SF = 0.015
SCALE_DOCS = 1_500
SCALE_EMBEDDINGS = 1_500
SCALE_VOCAB = 100_000
SCALE_ZIPF_S = 1.0
SCALE_DUP_SHARE = 0.05
SCALE_FILES = 8     # files per table: two scan tasks per core


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "jvm")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            if "target" in p.split(os.sep)[len(ROOT.split(os.sep)):]:
                continue
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state; returns the classpath."""
    stamp_path, cp_path = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_path) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return open(cp_path).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "jvm"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    if not cp or any(not os.path.exists(x) for x in cp.split(os.pathsep)[:2]):
        raise SystemExit("build produced no classpath")
    cp = jar_dirs(cp)
    share_classes(cp)
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f}s")
    return cp


def jar_dirs(cp):
    """The classpath with each class directory packed into a jar of its
    own: a class-data sharing archive accepts jars only."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def share_classes(cp):
    """Dump the classes a driver process loads to start a session, set up
    query_mix and run its warm-up into a class-data sharing archive
    (AppCDS), which every later run maps instead of loading each class
    again: about 3 s less start-up a run on 4 cores. Runs go on without it
    when the dump fails."""
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    run_dir = os.path.join(BUILD, "prime")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "work", "out", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    t0 = time.time()
    try:
        make_inputs("query_mix", 0, os.path.join(run_dir, "data"), False)
        run_jvm(cp, ["prime", "0", "0", "0", str(len(os.sched_getaffinity(0))),
                     os.path.join(run_dir, "data"), os.path.join(run_dir, "work"),
                     os.path.join(run_dir, "out")],
                run_dir, 300, [f"-XX:ArchiveClassesAtExit={archive}"])
    except SystemExit as e:
        log(f"class-data sharing archive not made: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"class-data sharing archive {'made' if os.path.exists(archive) else 'not made'} "
        f"in {time.time() - t0:.1f}s")


def heap():
    """The tier-1 test heap: half the host memory, clamped to 2..8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                return open(p).read().strip()
            for line in open(os.path.join(ROOT, ".git", "packed-refs")):
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
        return ref
    except OSError:
        return "unknown"


def make_inputs(workload, seed, data, traced):
    """Generate the run's inputs; returns (lake plan and model or None, input record)."""
    import numpy as np
    rng = np.random.default_rng([seed, 1])
    if workload == "query_mix":
        tables = gen.tpch(rng, 0.01)
        tables["documents"], doc_stats = gen.documents(rng, 500)
        tables["embeddings"] = gen.embeddings(rng, 500)
        # a traced run times the workload twice, untraced and traced
        plan, model = lake.make_plan(seed, data, phases=2 if traced else 1)
        rows = gen.write(tables, data)
        return (plan, model), {"rows": rows, "documents": doc_stats,
                               "lake": {"seed_rows": lake.SEED_ROWS, "planned_ops": len(plan["ops"])}}
    tables = gen.tpch(rng, SCALE_SF)
    tables["documents"], doc_stats = gen.documents(
        rng, SCALE_DOCS, gen.zipf_vocab(SCALE_VOCAB), zipf_s=SCALE_ZIPF_S,
        min_len=20, max_len=100, dup_share=SCALE_DUP_SHARE)
    tables["embeddings"] = gen.embeddings(rng, SCALE_EMBEDDINGS)
    with open(os.path.join(data, "plan.json"), "w") as f:
        json.dump({"queries": metrics.SCALE_QUERIES}, f)
    rows = gen.write(tables, data, files=SCALE_FILES)
    return None, {"rows": rows, "documents": doc_stats}


def cpu_ticks():
    """(steal, total) CPU ticks of the host since boot; steal is time the
    hypervisor gave this machine's CPUs to other guests."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, run_dir, timeout, flags=None):
    archive = os.path.join(BUILD, "classes.jsa")
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + flags +
           [f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/work/spark-local")
    with open(f"{run_dir}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write(open(f"{run_dir}/jvm.log").read()[-6000:])
        raise SystemExit(f"driver process exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its driver process and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("the engine's sources (build.sbt, src/main/scala/graft) are not here")
    cp = build()
    t_start = time.time()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "work", "out", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        data = os.path.join(run_dir, "data")
        lake_state, inputs = make_inputs(a.workload, a.seed, data, a.trace == 1)
        gen_s = time.time() - t_start
        steal0, total0 = cpu_ticks()
        t_jvm = time.time()
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cpus), data,
                     os.path.join(run_dir, "work"), os.path.join(run_dir, "out")],
                run_dir, JVM_TIMEOUT_S - gen_s)
        steal1, total1 = cpu_ticks()
        jvm_s = time.time() - t_jvm
        result = json.load(open(os.path.join(run_dir, "out", "result.json")))
        failed, notes, check_info = checks.check(a.workload, result, data, lake_state)
        check_s = time.time() - t_jvm - jvm_s
        os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "out", "result.json"),
                    os.path.join(BUILD, "last", f"{a.workload}-seed{a.seed}.json"))
        spans = os.path.join(run_dir, "out", "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    m, samples, props, missing = metrics.compute(a.workload, result, lake_state, inputs, a.trace == 1)
    notes += missing
    attempted = len(result["ops"])
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "loop": "closed, 1 client", "cpus": cpus, "heap": heap(),
              "heap_bytes": result["heap_bytes"], "git_commit": git_commit(),
              "spark": result["spark_version"], "inputs": inputs, "samples": samples,
              "properties": props, "setup_ms": result["setup_ms"],
              "warmup_ms": result["warmup_ms"], "setup_cpu_ms": result["setup_cpu_ms"],
              "warmup_cpu_ms": result["warmup_cpu_ms"], "prepare_ms": result["prepare_ms"],
              "session_ms": result["session_ms"], "finish_ms": result["finish_ms"],
              "host_cpu_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
              "gen_s": round(gen_s, 3), "jvm_s": round(jvm_s, 3), "check_s": round(check_s, 3),
              "wall_s": round(time.time() - t_start, 3), "check": check_info,
              "op_fail_ratio": len(failed) / max(1, attempted), "failures": notes[:20]}
    for n in notes[:20]:
        log("check failed:", n)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not failed and not notes, "attempted": attempted,
                      "failed": len(failed), "metrics": m}))


if __name__ == "__main__":
    main()
