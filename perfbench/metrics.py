"""Metrics of one run, from the driver process's op records and spans.

End-to-end metrics apply to every workload. The op figures are taken
over the workload's op kinds (a registered query, a lake DML function or a
lake read shape on query_mix; a batch job on scale_batch), each at the
best of its draws in the run: the first timed draw of a kind can still
carry JIT compilation and collector pauses, which a best-of-N sheds (the
engine's own Bench reports min-of-2 for the same reason). They count the
CPU time of every thread of the driver process during the op (driver,
executors, compiler, collector): the kernel leaves out the time the
hypervisor gave the machine's CPUs to other guests, which moves the wall
time of whole runs on a shared host by up to 40%.

    setup_s            median of the repeated set-ups plus the warm-up,
                       in CPU time for the same reason (their wall times
                       are in the record)
    op_cpu_geomean_ms  geometric mean over op kinds of the best draw's CPU
                       time: every kind weighs the same
    ops_per_cpu_s      op kinds over their summed best-draw CPU seconds

The wall-time figures of the same ops (geometric mean, median, 90th
percentile, ops per second) go into the run record, and into the
per-layer metrics as wall.*; no percentile above the median has ten
samples beyond it in a run.

Per-layer metrics come from the traced phase of a traced run (which runs
the timed phase twice, untraced and then traced); the workload-level
figures of each workload (lake.*, scale.rows_per_s) use every timed op.
A layer a workload does not exercise reports 0. A layer it does exercise
but that got no samples in the run (an op kind that never ran, or a
module that no query ran under) fails the run instead.
"""
import math

import lake

END_TO_END = {"setup_s": "s", "op_cpu_geomean_ms": "ms", "ops_per_cpu_s": "1/s"}

MODULES = ["Relational", "Statistics", "Extended", "TpchShapes", "Temporal", "TextOps",
           "Dedup", "Similarity", "Multimodal", "Graph", "Pipeline"]
DML_FNS = lake.CYCLE
MAPREDUCE_JOBS = ["core.MapReduce.runAssociative", "core.MapReduce.run"]
# The registered queries of a scale_batch round; the harness runs these.
# gr78_pagerank is left out: its six iterations are driver-bound (the
# executors stay under a third busy at this input size), which is not what
# this workload measures.
SCALE_QUERIES = ["q01_pricing_summary", "q04_join_shuffle", "tx41_tfidf_topterms",
                 "dd26_dedup_minhash_lsh", "ss30_cosine_topk"]
# input tables each scale_batch job reads
SCALE_INPUTS = {"core.MapReduce.runAssociative": ["documents"], "core.MapReduce.run": ["documents"],
                "q01_pricing_summary": ["lineitem"], "q04_join_shuffle": ["orders", "customer"],
                "tx41_tfidf_topterms": ["documents"], "dd26_dedup_minhash_lsh": ["documents"],
                "ss30_cosine_topk": ["embeddings"]}
LAKE_COUNTERS = ["logReads", "footerDriverReads", "dvScopedJobs", "dvForceJobs",
                 "pathForceJobs", "eagerV3Loads", "inventoryListTasks"]

PER_LAYER = dict(
    [("workload.self_ms", "ms"), ("driver.self_ms", "ms"), ("driver.analysis_ms", "ms"),
     ("driver.optimizer_ms", "ms"), ("driver.planning_ms", "ms"), ("driver.gc_ms", "ms"),
     ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
     ("scheduler.tasks_per_job", "ratio"), ("scheduler.in_job_ms", "ms"),
     ("scheduler.job_self_ms", "ms"), ("scheduler.stage_self_ms", "ms"),
     ("scheduler.task_wait_ms", "ms"), ("scheduler.failed_tasks", "count"),
     ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"), ("executor.busy_ratio", "ratio"),
     ("executor.scan_records", "count"), ("executor.scan_bytes", "bytes"),
     ("executor.shuffle_write_records", "count"), ("executor.shuffle_write_bytes", "bytes"),
     ("executor.shuffle_fetch_wait_ms", "ms"), ("executor.spill_bytes", "bytes"),
     ("executor.output_bytes", "bytes"), ("executor.task_skew_p50", "ratio"),
     ("executor.task_skew_max", "ratio"), ("trace.overhead_ms", "ms"), ("trace.callback_ms", "ms"),
     ("Tables.load_ms", "ms"), ("wall.op_geomean_ms", "ms"), ("wall.op_p50_ms", "ms"),
     ("wall.ops_per_s", "1/s")]
    + [(f"operators.{m}.{k}", u) for m in MODULES for k, u in (("ms", "ms"), ("jobs", "count"))]
    + [("core.MapReduce.runAssociative.ms", "ms"), ("core.MapReduce.run.ms", "ms")]
    + [(f"scale.{j}.ms", "ms") for j in SCALE_QUERIES] + [("scale.rows_per_s", "1/s")]
    + [(f"Pipeline.{f}.{k}", u) for f in DML_FNS for k, u in (("p50_ms", "ms"), ("jobs", "count"))]
    + [("Lake.checkpoint_commit.p50_ms", "ms"), ("Lake.read.resolve_ms", "ms"),
       ("Lake.read.exec_ms", "ms"), ("Lake.readVersion.p50_ms", "ms"), ("Lake.vacuum.ms", "ms")]
    + [(f"Lake.{c}", "count") for c in LAKE_COUNTERS]
    + [("lake_dir.bytes_written", "bytes"), ("lake_dir.files", "count"), ("lake_dir.bytes", "bytes"),
       ("lake_dir.log_bytes", "bytes"), ("lake.commit_p50_ms", "ms"), ("lake.commit_p75_ms", "ms"),
       ("lake.read_p50_ms", "ms"), ("lake.read_p90_ms", "ms"), ("lake.write_amp", "ratio"),
       ("lake.space_amp", "ratio")])


def quantile(xs, q):
    """numpy's default (linear) quantile; 0 for no samples (a layer the
    workload exercises always has samples: see missing_layers)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _med(xs):
    return quantile(xs, 0.5)


def _geomean(xs):
    return math.exp(sum(math.log(max(1e-3, x)) for x in xs) / len(xs)) if xs else 0.0


def _best(ops, field):
    """Each op kind's best (lowest) `field` over its draws."""
    best = {}
    for o in ops:
        kind = (o["name"], o.get("shape"))
        best[kind] = min(best.get(kind, o[field]), o[field])
    return list(best.values())


def _wall(ops):
    """Wall-time figures of `ops`, over the best draw of each kind."""
    b = _best(ops, "ms")
    return {"wall.op_geomean_ms": _geomean(b), "wall.op_p50_ms": quantile(b, 0.5),
            "wall.ops_per_s": len(b) / max(1e-9, sum(b) / 1000)}


def missing_layers(workload, ops, what):
    """Notes for every layer the workload exercises that none of `ops` sampled."""
    names = {o["name"] for o in ops}
    if workload == "query_mix":
        want = DML_FNS + ["Lake.read", "Lake.readVersion"]
        modules = {o["module"] for o in ops if "module" in o}
        notes = [f"{what}: no query ran under module {m}" for m in MODULES if m not in modules]
        notes += [f"{what}: queries ran under module {m}, which has no metrics"
                  for m in sorted(modules - set(MODULES))]
    else:
        want, notes = MAPREDUCE_JOBS + SCALE_QUERIES, []
    return notes + [f"{what}: no {n} op" for n in want if n not in names]


def compute(workload, result, lake_state, inputs, traced):
    """Returns (metrics, sample counts, workload properties, notes on
    layers that got no samples)."""
    ops = result["ops"]
    ok = [o for o in ops if o["ok"]]
    lat = [o["ms"] for o in ok]
    best = _best(ok, "ms")
    samples = {"op": len(lat), "op_kinds": len(best), "setup": len(result["setup_ms"])}
    missing = missing_layers(workload, ok, "timed ops")
    if workload == "query_mix":
        written = [o["checkpoint"] for o in ok if o.get("checkpoint", "none") != "none"]
        if not written:
            missing.append("timed ops: no commit wrote a checkpoint")
        if any(c != "columnar" for c in written):
            missing.append("timed ops: a commit wrote a text checkpoint, below the columnar threshold")
    untraced = [o for o in ok if not o["traced"]]
    props = {k: round(v, 6) for k, v in _wall(untraced).items()}
    props["op_p90_ms"] = {"best_draws": round(quantile(best, 0.9), 3),
                          "all_draws": round(quantile(lat, 0.9), 3)}
    wl = {}  # workload-level figures
    if workload == "query_mix":
        props["lake_query_share"] = result["lake_share"]
        props["queries"] = len(result["queries"])
        plan, model = lake_state
        commits = [o for o in ok if o["kind"] == "commit"]
        reads = [o for o in ok if o["kind"] == "read"]
        fns = [o["name"] for o in commits]
        cps = [o["checkpoint"] for o in commits if o["checkpoint"] != "none"]
        ranges = [o for o in reads if o["shape"] == "range" and "scan_records" in o]
        live_rows = {v: len(state[0]) for v, state in model.versions.items()}
        props.update(
            commits=len(commits), reads=len(reads),
            dv_commit_share=sum(f in lake.DV_FNS for f in fns) / max(1, len(fns)),
            cow_commit_share=sum(f in lake.COW_FNS for f in fns) / max(1, len(fns)),
            checkpoint_commit_share=len(cps) / max(1, len(commits)),
            checkpoints_columnar=f"{cps.count('columnar')}/{len(cps)}",
            range_reads_pruned_share=(sum(o["scan_records"] < 0.5 * live_rows[o["version"]]
                                          for o in ranges) / len(ranges)) if ranges else None)
        timed_batches = sum(plan["ops"][o["op"]].get("batch_bytes", 0) for o in commits)
        d = result.get("lake_dir")
        wl = {"lake.commit_p50_ms": quantile([o["ms"] for o in commits], 0.5),
              "lake.commit_p75_ms": quantile([o["ms"] for o in commits], 0.75),
              "lake.read_p50_ms": quantile([o["ms"] for o in reads], 0.5),
              "lake.read_p90_ms": quantile([o["ms"] for o in reads], 0.9),
              "lake.write_amp": sum(o["new_bytes"] for o in commits) / max(1, timed_batches)}
        if traced:
            wl["lake.space_amp"] = d["bytes"] / max(1, d["plain_bytes"])
        samples.update(commit=len(commits), read=len(reads))
    else:
        rows = inputs["rows"]
        in_rows = sum(sum(rows[t] for t in SCALE_INPUTS[o["name"]]) for o in ok)
        wl = {"scale.rows_per_s": in_rows / max(1e-9, sum(lat) / 1000)}
        props.update(distinct_tokens=inputs["documents"]["distinct_tokens"],
                     near_duplicate_share=inputs["documents"]["dup_share"],
                     input_rows_per_round=sum(sum(rows[t] for t in ts) for ts in SCALE_INPUTS.values()))
    props.update({k: round(v, 6) for k, v in wl.items()})
    if not traced:
        cpu = _best(ok, "cpu_ms")
        m = {"setup_s": (_med(result["setup_cpu_ms"]) + result["warmup_cpu_ms"]) / 1000,
             "op_cpu_geomean_ms": _geomean(cpu),
             "ops_per_cpu_s": len(cpu) / max(1e-9, sum(cpu) / 1000)}
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}, samples, props, missing
    t = [o for o in ok if o["traced"]]
    samples["traced_op"] = len(t)
    missing += missing_layers(workload, t, "traced ops")
    lay = dict(result["layers"])
    # per stage of 4+ tasks: the slowest task over the median task
    skews = [max(d) / max(1.0, _med(d)) for d in lay.pop("stage_task_ms")]
    samples["skew_stages"] = len(skews)
    wall = sum(o["ms"] for o in t)
    if wall > 0:
        # where the traced ops' wall time went: driver alone, jobs running
        # with idle executor slots (scheduling), executors busy
        busy = lay["executor.run_ms"] / result["cpus"]
        props["wall_share"] = {"driver": round(lay["driver.self_ms"] / wall, 4),
                               "scheduler": round((lay["scheduler.in_job_ms"] - busy) / wall, 4),
                               "executor": round(busy / wall, 4)}
    m = {k: 0.0 for k in PER_LAYER}
    m.update(lay)
    m.update(wl)
    # the untraced phase of the same run
    m.update(_wall(untraced))
    m["executor.task_skew_p50"] = _med(skews) if skews else 1.0
    m["executor.task_skew_max"] = max(skews, default=1.0)
    # the same ops, untraced (first phase) and traced (second phase)
    m["trace.overhead_ms"] = _med([o["ms"] for o in t]) - _med([o["ms"] for o in ok if not o["traced"]])
    notes = result["setup_notes"].get("Tables.load_ms")
    if notes:
        m["Tables.load_ms"] = _med(notes)
    if workload == "query_mix":
        for mod in MODULES:
            mine = [o for o in t if o.get("module") == mod]
            m[f"operators.{mod}.ms"] = sum(o["ms"] for o in mine)
            m[f"operators.{mod}.jobs"] = sum(o.get("jobs", 0) for o in mine)
        for f in DML_FNS:
            mine = [o for o in t if o["name"] == f]
            m[f"Pipeline.{f}.p50_ms"] = _med([o["ms"] for o in mine])
            m[f"Pipeline.{f}.jobs"] = _med([o.get("jobs", 0) for o in mine])
        cp = [o["ms"] for o in ok if o["kind"] == "commit" and o["checkpoint"] != "none"]
        m["Lake.checkpoint_commit.p50_ms"] = _med(cp)
        samples["checkpoint_commit"] = len(cp)
        rd = [o for o in t if o["name"] == "Lake.read"]
        m["Lake.read.resolve_ms"] = _med([o["construct_ms"] for o in rd])
        m["Lake.read.exec_ms"] = _med([o["ms"] - o["construct_ms"] for o in rd])
        m["Lake.readVersion.p50_ms"] = _med([o["ms"] for o in t if o["name"] == "Lake.readVersion"])
        m["Lake.vacuum.ms"] = result["vacuum_ms"]
        d = result["lake_dir"]
        m["lake_dir.bytes_written"] = sum(o["new_bytes"] for o in ok if o["kind"] == "commit")
        m.update({"lake_dir.files": d["files"], "lake_dir.bytes": d["bytes"],
                  "lake_dir.log_bytes": d["log_bytes"]})
    else:
        for name in MAPREDUCE_JOBS:
            m[f"{name}.ms"] = _med([o["ms"] for o in t if o["name"] == name])
        for j in SCALE_QUERIES:
            m[f"scale.{j}.ms"] = _med([o["ms"] for o in t if o["name"] == j])
    for c in LAKE_COUNTERS:
        m[f"Lake.{c}"] = result["counters"].get(c, 0)
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}, samples, props, missing

