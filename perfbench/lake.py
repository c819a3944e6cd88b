"""The lake side of query_mix: its plan and the model that checks it.

`make_plan` draws a seeded lake (seed rows plus a sequence of DML ops with
their input batches) and replays every op on a plain in-memory model of
the table, built without the engine. The model's state at every version
answers each read the benchmark makes: the whole table, an id range, or
an earlier version.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# One cycle of commits, one call of each of the engine's lake DML
# functions, named as the engine names them; the harness calls the
# function each op names. Every timed phase runs one whole cycle. Every op
# changes the table, so op i of the plan publishes version
# PREPARE_COMMITS + 1 + i.
CYCLE = ["appendToLake", "mergeIntoLakeSparse", "updateLakeSparseWhere", "deleteFromLakeSparse",
         "mergeIntoLake", "mergeIntoLakeGeneral", "deleteFromLake", "compactLake"]
# functions that write deletion vectors vs functions that rewrite files
# (copy-on-write)
DV_FNS = {"mergeIntoLakeSparse", "mergeIntoLakeGeneral", "deleteFromLakeSparse", "updateLakeSparseWhere"}
COW_FNS = {"mergeIntoLake", "deleteFromLake", "compactLake"}
SEED_ROWS = 12_000
SEED_FILES = 4       # per partition
SHARDS = 1           # x 3 splits = 3 partitions
# untimed commits after set-up; the warm-up runs the first function of the
# cycle
WARM_OPS = 1
# metadata commits (stats backfills) before the first op. With the
# 10-commit checkpoint interval, the last commit of the timed phase
# (versions 3 to 10) writes a checkpoint
PREPARE_COMMITS = 1
SPLITS = np.array(["train", "val", "test"], dtype=object)


def _layout(ids):
    return SPLITS[ids % 3], ((ids // 3) % SHARDS).astype(np.int32)


def _rows(ids, n_chars, text):
    split, shard = _layout(ids)
    return {"doc_id": pa.array(ids, pa.int64()), "split": pa.array(split, pa.string()),
            "shard_id": pa.array(shard, pa.int32()), "n_chars": pa.array(n_chars, pa.int64()),
            "text": pa.array(text, pa.string())}


class Model:
    """The table as id-sorted arrays; one frozen copy per version."""

    def __init__(self, ids, n_chars, text):
        self.text = dict(zip(ids.tolist(), text))
        self.ids, self.n = ids.copy(), n_chars.copy()
        self.versions = {}

    def snapshot(self, version):
        tl = np.array([len(self.text[i]) for i in self.ids.tolist()], dtype=np.int64)
        self.versions[version] = (self.ids.copy(), self.n.copy(), tl)

    def upsert(self, ids, n_chars, text):
        keep = ~np.isin(self.ids, ids)
        self.ids = np.concatenate([self.ids[keep], ids])
        self.n = np.concatenate([self.n[keep], n_chars])
        self.text.update(zip(ids.tolist(), text))
        order = np.argsort(self.ids, kind="stable")
        self.ids, self.n = self.ids[order], self.n[order]

    def delete(self, ids):
        keep = ~np.isin(self.ids, ids)
        self.ids, self.n = self.ids[keep], self.n[keep]

    def lookup(self, ids):
        return self.n[np.searchsorted(self.ids, ids)]


def digest(version_state, lo=None, hi=None):
    """count, sum(id), sum(n_chars), sum(id * n_chars), sum(len(text)):
    the aggregate every benchmark read materializes."""
    ids, n, tl = version_state
    if lo is not None:
        a, b = np.searchsorted(ids, lo, "left"), np.searchsorted(ids, hi, "right")
        ids, n, tl = ids[a:b], n[a:b], tl[a:b]
    ids_o, n_o = ids.astype(object), n.astype(object)
    return [len(ids), int(ids.sum()), int(n.sum()), int((ids_o * n_o).sum()), int(tl.sum())]


def _texts(rng, k):
    t, _ = gen.documents(rng, k, min_len=8, max_len=40, dup_share=0.0)
    return t.column("text").to_pylist()


def write_seed_lake(table, root):
    """The seed rows as a plain partitioned parquet directory
    (split=../shard_id=../), SEED_FILES files per partition, each over a
    contiguous id range so that per-file id stats can prune range reads.
    The engine adopts it as the lake's first version."""
    ids = table.column("doc_id").to_numpy()
    file_of = (ids * SEED_FILES) // (ids.max() + 1)
    split, shard = _layout(ids)
    for s_name in SPLITS:
        for sh in range(SHARDS):
            in_part = (split == s_name) & (shard == sh)
            d = f"{root}/split={s_name}/shard_id={sh}"
            os.makedirs(d)
            for f in range(SEED_FILES):
                rows = np.flatnonzero(in_part & (file_of == f))
                pq.write_table(table.take(rows).drop(["split", "shard_id"]), f"{d}/part-{f:05d}.parquet")


def make_plan(seed, out_dir, phases):
    """The seed lake, then WARM_OPS ops and one cycle for each timed phase."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(f"{out_dir}/batches", exist_ok=True)
    ids = np.arange(SEED_ROWS, dtype=np.int64)
    text = _texts(rng, SEED_ROWS)
    n_chars = np.array([len(s) for s in text], dtype=np.int64)
    write_seed_lake(pa.table(_rows(ids, n_chars, text)), f"{out_dir}/lake")
    model = Model(ids, n_chars, text)
    for v in range(1, PREPARE_COMMITS + 1):
        model.snapshot(v)
    next_id = SEED_ROWS
    ops = []
    for i, fn in enumerate(CYCLE[:1] * WARM_OPS + CYCLE * phases):
        op = {"fn": fn}
        batch = None

        def live(k):
            # k of the live ids in a window of 4k neighbours
            w = min(4 * k, len(model.ids))
            a = int(rng.integers(0, len(model.ids) - w + 1))
            return np.sort(rng.choice(model.ids[a:a + w], size=min(k, w), replace=False))

        def fresh(k):
            nonlocal next_id
            new = np.arange(next_id, next_id + k, dtype=np.int64)
            next_id += k
            return new

        if fn == "appendToLake":
            new = fresh(300)
            t = _texts(rng, len(new))
            nc = np.array([len(s) for s in t], dtype=np.int64)
            batch = _rows(new, nc, t)
            model.upsert(new, nc, t)
        elif fn in ("mergeIntoLakeSparse", "mergeIntoLake"):
            old, new = live(150), fresh(50)
            ids_b = np.concatenate([old, new])
            t = [model.text[j] for j in old.tolist()] + _texts(rng, len(new))
            nc = np.concatenate([model.lookup(old) + rng.integers(1, 100, len(old)),
                                 np.array([len(s) for s in t[len(old):]], dtype=np.int64)])
            batch = _rows(ids_b, nc, t)
            model.upsert(ids_b, nc, t)
        elif fn == "mergeIntoLakeGeneral":
            old, new = live(150), fresh(50)
            dele = rng.random(len(old)) < 1 / 3
            delta = rng.integers(1, 50, len(old))
            t_new = _texts(rng, len(new))
            nc_new = np.array([len(s) for s in t_new], dtype=np.int64)
            ids_b = np.concatenate([old, new])
            t = [model.text[j] for j in old.tolist()] + t_new
            batch = _rows(ids_b, np.concatenate([model.lookup(old), nc_new]), t)
            batch["delta"] = pa.array(np.concatenate([delta, np.zeros(len(new), np.int64)]), pa.int64())
            batch["del"] = pa.array(np.concatenate([dele, np.zeros(len(new), bool)]), pa.bool_())
            upd = old[~dele]
            model.upsert(upd, model.lookup(upd) + delta[~dele], [model.text[j] for j in upd.tolist()])
            model.delete(old[dele])
            model.upsert(new, nc_new, t_new)
        elif fn in ("deleteFromLakeSparse", "deleteFromLake"):
            gone = live(120)
            batch = {"doc_id": pa.array(gone, pa.int64())}
            model.delete(gone)
        elif fn == "updateLakeSparseWhere":
            lo = int(rng.choice(model.ids))
            hi = lo + int(next_id * 0.02)
            add = int(rng.integers(1, 10))
            op.update(lo=lo, hi=hi, add=add)
            sel = (model.ids >= lo) & (model.ids <= hi)
            model.n = np.where(sel, model.n + add, model.n)
        if batch is not None:
            path = f"{out_dir}/batches/op{i:03d}.parquet"
            pq.write_table(pa.table(batch), path)
            op["batch"] = path
            op["batch_bytes"] = os.path.getsize(path)
        span = int(next_id * 0.05)
        lo = int(rng.integers(0, next_id - span))
        op["range"] = [lo, lo + span]
        op["back"] = int(rng.integers(1, 8))
        model.snapshot(PREPARE_COMMITS + 1 + i)
        ops.append(op)
    plan = {"lake": f"{out_dir}/lake", "warm_ops": WARM_OPS, "cycle": len(CYCLE),
            "prepare_commits": PREPARE_COMMITS, "ops": ops}
    with open(f"{out_dir}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan, model


def check(plan, model, result):
    """Every read against the model; returns (failed op ids, notes)."""
    failed, notes = set(), []
    ops = plan["ops"]
    for r in result["ops"]:
        if r["kind"] != "read" or not r["ok"]:
            continue
        v = r["version"]
        if v not in model.versions:
            failed.add(r["id"])
            notes.append(f"op {r['id']}: version {v} outside the plan")
            continue
        if r["shape"] == "range":
            lo, hi = ops[v - PREPARE_COMMITS - 1]["range"]
            want = digest(model.versions[v], lo, hi)
        else:
            want = digest(model.versions[v])
        if r.get("digest") != want:
            failed.add(r["id"])
            notes.append(f"op {r['id']} {r['name']} {r['shape']} v{v}: got {r.get('digest')} want {want}")
    if result["setup_digest"] != digest(model.versions[PREPARE_COMMITS]):
        notes.append(f"lake at set-up: got {result['setup_digest']}")
        failed.add(-1)
    last = result["ops_run"] + PREPARE_COMMITS
    want = digest(model.versions[last])
    if result["final_digest"] != want:
        notes.append(f"final table v{last}: got {result['final_digest']} want {want}")
        failed.add(-1)
    return failed, notes
