"""Seeded input generator for the per-change benchmark.

Every workload's inputs are a pure function of (workload, seed): numpy's
PCG64 stream drives every value, parquet files are written with fixed
writer options, and the digest is a SHA-256 over the relative path and
bytes of every file written. Next to the data, `expected.json` holds the
values the benchmark's correctness checks compare against (the program
under test only ever sees the parquet files).
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. On four cores one monitor cycle takes about 4.6 s and one
# curation pass about 5.4 s (median op_p50_s over ten seeds), so a 10 s
# window times 3-4 operations. Larger inputs would not fit the run budget
# (48 runs of about 55 s each, set-up included, plus two builds, within
# 3,420 s); smaller ones would let Spark's fixed per-job cost swamp the
# library's own work.
MONITOR_BATCHES = 64
MONITOR_ROWS_PER_BATCH = 1_000
MONITOR_REF_ROWS = 6_000
# Batches with index >= this carry the planted shift. It lies within the
# monitor loop's three warm-up cycles (MonitorLoop.warmupOps), whose
# outputs are checked too, so every run checks both sides of the shift
# and every timed cycle is in the same regime.
MONITOR_SHIFT_AT = 2
CURATE_DOCS = 1_500
CURATE_QUERIES = 64
CURATE_DIM = 32

DAY_S = 86_400
EPOCH0 = 1_735_689_600  # 2025-01-01T00:00:00Z


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def digest_dir(root):
    """SHA-256 over every file under `root` (sorted relative paths + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            if rel == "expected.json":
                continue
            h.update(rel.encode())
            h.update(b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()


def _events(rng, n, day, shifted):
    ts = EPOCH0 + day * DAY_S + rng.integers(0, DAY_S, n, dtype=np.int64)
    seg = np.array(["web", "ios", "android"], dtype=object)[
        rng.choice(3, n, p=[0.6, 0.3, 0.1])]
    cols = {"ts": pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            "platform": pa.array(seg)}
    for i in range(6):
        # clipped so the pre-shift range is known exactly; columns 0 and 1
        # move by four standard deviations after the planted shift
        mu = 50.0 + 10.0 * i + (40.0 if shifted and i < 2 else 0.0)
        v = np.clip(rng.normal(mu, 10.0, n), 0.0, None)
        if not (shifted and i < 2):
            v = np.clip(v, 0.0, 50.0 + 10.0 * i + 45.0)
        cols[f"x{i}"] = pa.array(v)
    cols["latency_ms"] = pa.array(rng.integers(1, 2000, n, dtype=np.int64))
    cols["status"] = pa.array(np.array(["ok", "retry", "error"], dtype=object)[
        rng.choice(3, n, p=[0.9, 0.07, 0.03])])
    return pa.table(cols), ts


MONITOR_NUMERIC = [f"x{i}" for i in range(6)] + ["latency_ms"]


def gen_monitor_loop(rng, out):
    ref, _ = _events(rng, MONITOR_REF_ROWS, -1, False)
    _write(ref, os.path.join(out, "reference", "part-00.parquet"))
    windows, stats = [], []
    for b in range(MONITOR_BATCHES):
        table, ts = _events(rng, MONITOR_ROWS_PER_BATCH, b, b >= MONITOR_SHIFT_AT)
        _write(table, os.path.join(out, "batches", f"b{b:03d}", "part-00.parquet"))
        hours = (ts - EPOCH0) // 3600
        uniq, counts = np.unique(hours, return_counts=True)
        windows.append({str(int(h) * 3600 * 1000 + EPOCH0 * 1000): int(c)
                        for h, c in zip(uniq, counts)})
        cols = {c: table.column(c).to_numpy() for c in MONITOR_NUMERIC}
        platforms, pcounts = np.unique(table.column("platform").to_numpy(zero_copy_only=False),
                                       return_counts=True)
        stats.append({
            "segments": {str(p): int(n) for p, n in zip(platforms, pcounts)},
            "min": {c: float(v.min()) for c, v in cols.items()},
            "max": {c: float(v.max()) for c, v in cols.items()},
            "ks": {c: _ks(v, ref.column(c).to_numpy()) for c, v in cols.items()},
        })
    return {"batches": MONITOR_BATCHES, "rows_per_batch": MONITOR_ROWS_PER_BATCH,
            "shift_at": MONITOR_SHIFT_AT, "shifted_columns": ["x0", "x1"],
            "numeric_columns": MONITOR_NUMERIC,
            "day0_ms": EPOCH0 * 1000, "day_ms": DAY_S * 1000,
            "range_hi": {f"x{i}": 50.0 + 10.0 * i + 45.0 for i in range(6)},
            "window_counts": windows, "batch_stats": stats}


def _ks(a, b):
    a = np.sort(a)
    b = np.sort(b)
    grid = np.union1d(a, b)
    ca = np.searchsorted(a, grid, side="right") / len(a)
    cb = np.searchsorted(b, grid, side="right") / len(b)
    return float(np.max(np.abs(ca - cb)))


def gen_curate_corpus(rng, out):
    n = CURATE_DOCS
    vocab = np.array([f"w{j}" for j in range(20_000)], dtype=object)
    n_base = int(n * 0.80)
    n_exact = int(n * 0.10)
    n_near = n - n_base - n_exact
    base = [list(vocab[rng.integers(0, len(vocab), int(rng.integers(60, 120)))])
            for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    exact_of, near_of = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(texts[src])
        exact_of.append(src)
    edit_rate = 0.04
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = list(base[src])
        edits = np.nonzero(rng.random(len(words)) < edit_rate)[0]
        if len(edits) == 0:  # at least one edit, so no copy is exact
            edits = [int(rng.integers(0, len(words)))]
        for p in edits:
            words[p] = f"e{int(rng.integers(0, 10**6))}"
        texts.append(" ".join(words))
        near_of.append(src)
    # shuffle ids so duplicates are spread over files and partitions
    perm = rng.permutation(n)
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[perm] = np.arange(n)  # doc_id[i] = new id of generated doc i
    order = np.argsort(doc_id)
    docs = pa.table({"doc_id": pa.array(doc_id[order]),
                     "text": pa.array(np.array(texts, dtype=object)[order])})
    _write(docs.slice(0, n // 2), os.path.join(out, "docs", "part-00.parquet"))
    _write(docs.slice(n // 2), os.path.join(out, "docs", "part-01.parquet"))

    # embeddings: clustered unit-ish vectors; every query has one planted
    # neighbour (a tiny perturbation of a corpus vector)
    centers = rng.normal(0.0, 1.0, (24, CURATE_DIM))
    assign = rng.integers(0, len(centers), n)
    vecs = centers[assign] + rng.normal(0.0, 0.6, (n, CURATE_DIM))
    targets = rng.choice(n, CURATE_QUERIES, replace=False)
    qv = vecs[targets] + rng.normal(0.0, 0.01, (CURATE_QUERIES, CURATE_DIM))
    vec_type = pa.list_(pa.float64())
    emb = pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                    "embedding": pa.array(list(vecs), type=vec_type)})
    queries = pa.table({"vec_id": pa.array(np.arange(n, n + CURATE_QUERIES, dtype=np.int64)),
                        "embedding": pa.array(list(qv), type=vec_type)})
    _write(emb, os.path.join(out, "embeddings", "part-00.parquet"))
    _write(queries, os.path.join(out, "queries", "part-00.parquet"))
    return {"docs": n,
            "exact_dups": [[int(doc_id[n_base + i]), int(doc_id[s])]
                           for i, s in enumerate(exact_of)],
            "near_dups": [[int(doc_id[n_base + n_exact + i]), int(doc_id[s])]
                          for i, s in enumerate(near_of)],
            "planted_neighbour": {str(n + q): int(t) for q, t in enumerate(targets)}}


GENERATORS = {
    "monitor_loop": gen_monitor_loop,
    "curate_corpus": gen_curate_corpus,
}


def _generator_digest():
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(workload, seed, out):
    """Writes the inputs of `workload` for `seed` under `out` (replacing
    anything there) and returns (digest, expected)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.Generator(np.random.PCG64(seed))
    expected = GENERATORS[workload](rng, out)
    digest = digest_dir(out)
    expected.update(digest=digest, seed=seed, generator=_generator_digest())
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return digest, expected


def ensure(workload, seed, out):
    """Like `generate`, but reuses inputs already generated for the same
    seed by this same generator source, while their digest still holds."""
    path = os.path.join(out, "expected.json")
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)
        if (expected.get("seed") == seed and expected.get("generator") == _generator_digest()
                and expected.get("digest") == digest_dir(out)):
            return expected["digest"], expected
    return generate(workload, seed, out)
