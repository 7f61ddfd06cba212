"""Seeded input generator for the benchmark (numpy + pyarrow, one process).

Every input the engine sees is a file written here from `(workload, seed)`;
the same pair always yields byte-identical files. Each workload directory
also holds `manifest.json`: the sizes used plus the expected values the
correctness checks compare against (the generator is their source of
truth, never the engine).

    python3 perfbench/gen.py --workload ais --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("ais", "corpus")

# Sizes are fixed per workload so every seed does the same amount of work.
SIZES = {
    "ais": {
        "backlog_rows": 120_000,
        "days": 180,
        "vessels": 3000,
        "base_rows": 10_000,
        "slices": 60,
        "slice_rows": 2000,
        "recent_days": 30,
    },
    "corpus": {
        "docs": 2000,
        "warm_docs": 150,
        "vocab": 6000,
        "clusters": 80,
        "boilerplate_width": 280,
        "vectors": 2000,
        "dims": 64,
        "centers": 24,
        "requests": 200,
        "request_vectors": 8,
    },
}

PROCESSED_SHARE = 0.40  # ~60% of rows arrive with NULL geom
ZERO_DURATION_SHARE = 0.02
EPOCH0_S = 1_546_300_800  # 2019-01-01T00:00:00Z
QUERY_ID0 = 1 << 40  # query vector ids never collide with corpus ids
MIN_TOKENS, MAX_TOKENS = 30, 120
CACHE_KEEP = 3  # seeds kept cached per workload, so a long run set does not fill the disk

SEGMENT_SCHEMA = pa.schema(
    [
        ("segment_id", pa.int64()),
        ("vessel_id", pa.int64()),
        ("start_time", pa.timestamp("us", tz="UTC")),
        ("duration", pa.float64()),
        ("start_lon", pa.float64()),
        ("start_lat", pa.float64()),
        ("end_lon", pa.float64()),
        ("end_lat", pa.float64()),
        (
            "geom",
            pa.struct(
                [
                    ("srid", pa.int32()),
                    ("x1", pa.float64()),
                    ("y1", pa.float64()),
                    ("x2", pa.float64()),
                    ("y2", pa.float64()),
                ]
            ),
        ),
        ("len_m", pa.float64()),
        ("sog_kt", pa.float64()),
    ]
)


def _rng(workload: str, seed: int, part: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload), part])


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def segments(
    rng: np.random.Generator, n: int, id0: int, days: np.ndarray, vessels: int
) -> tuple[pa.Table, np.ndarray]:
    """AIS segment-state rows (the reference's input table) and each row's
    day index. `days` is the pool of day indexes rows are drawn from."""
    seg_id = np.arange(id0, id0 + n, dtype=np.int64)
    vessel = _zipf_choice(rng, vessels, n, 1.1).astype(np.int64) + 200_000_000
    day = rng.choice(days, size=n)
    ts_us = (EPOCH0_S + day.astype(np.int64) * 86_400 + rng.integers(0, 86_400, n)) * 1_000_000
    duration = rng.integers(5, 900, n).astype(np.float64)
    duration[rng.random(n) < ZERO_DURATION_SHARE] = 0.0
    lon = rng.uniform(-134.0, -123.0, n)
    lat = rng.uniform(48.3, 55.5, n)
    dist = rng.uniform(0.0, 25.0, n) * 0.514444 * duration
    heading = rng.uniform(0.0, 2.0 * np.pi, n)
    end_lat = lat + dist * np.cos(heading) / 111_320.0
    end_lon = lon + dist * np.sin(heading) / (111_320.0 * np.cos(np.radians(lat)))
    done = rng.random(n) < PROCESSED_SHARE
    null = pa.array(~done)
    x1, x2 = (rng.uniform(5e5, 1.9e6, n) for _ in range(2))
    y1, y2 = (rng.uniform(3e5, 1.7e6, n) for _ in range(2))
    geom = pa.StructArray.from_arrays(
        [pa.array(np.full(n, 3005, np.int32)), *(pa.array(v) for v in (x1, y1, x2, y2))],
        fields=list(SEGMENT_SCHEMA.field("geom").type),
        mask=null,
    )
    len_m = pa.array(rng.uniform(0.0, 12_000.0, n), mask=~done)
    sog = pa.array(rng.uniform(0.0, 25.0, n), mask=~done)
    cols = [
        seg_id, vessel, pa.array(ts_us, pa.timestamp("us", tz="UTC")), duration,
        lon, lat, end_lon, end_lat, geom, len_m, sog,
    ]
    return pa.Table.from_arrays([pa.array(c) if isinstance(c, np.ndarray) else c for c in cols],
                                schema=SEGMENT_SCHEMA), day


def _kept_per_day(table: pa.Table, day: np.ndarray, n_days: int) -> np.ndarray:
    keep = table.column("duration").to_numpy() != 0
    return np.bincount(day[keep], minlength=n_days)


def day_name(day: int) -> str:
    """ISO date of a day index — the key `daily_counts` rows carry."""
    return str(np.datetime64("2019-01-01") + day)


def _write(table: pa.Table, path: str) -> None:
    # fixed codec and row-group size: identical tables give identical bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    """A parquet directory of `n_files` files, so scans split across cores."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _enriched_rows(table: pa.Table) -> int:
    keep = table.column("duration").to_numpy() != 0
    return int((keep & table.column("geom").is_null().to_numpy(zero_copy_only=False)).sum())


def gen_ais(seed: int, out: str) -> dict:
    """The backlog table, plus the incremental base table and its slices."""
    cfg = SIZES["ais"]
    all_days = np.arange(cfg["days"])
    backlog, day = segments(_rng("ais", seed, 0), cfg["backlog_rows"], 0, all_days, cfg["vessels"])
    _write_split(backlog, os.path.join(out, "backlog.parquet"), 4)
    rng = _rng("ais", seed, 1)
    base, base_day = segments(rng, cfg["base_rows"], 0, all_days, cfg["vessels"])
    _write_split(base, os.path.join(out, "base.parquet"), 1)
    os.makedirs(os.path.join(out, "slices"))
    recent = all_days[-cfg["recent_days"]:]  # deltas mostly carry recent days
    slice_counts = []
    next_id = cfg["base_rows"]
    for i in range(cfg["slices"]):
        sl, sl_day = segments(rng, cfg["slice_rows"], next_id, recent, cfg["vessels"])
        next_id += sl.num_rows
        _write(sl, os.path.join(out, "slices", f"slice-{i:05d}.parquet"))
        per_day = _kept_per_day(sl, sl_day, cfg["days"])
        slice_counts.append({int(d): int(per_day[d]) for d in np.flatnonzero(per_day)})
    return {
        "sizes": cfg,
        "rows": backlog.num_rows,
        "kept_rows": int((backlog.column("duration").to_numpy() != 0).sum()),
        "enriched_rows": _enriched_rows(backlog),
        "day_counts": _kept_per_day(backlog, day, cfg["days"]).tolist(),
        "base_day_counts": _kept_per_day(base, base_day, cfg["days"]).tolist(),
        "slice_day_counts": slice_counts,
    }


_SYLLABLES = [a + b for a in "bdfgklmnprstvz" for b in "aeiou"]


def _word(i: int) -> str:
    out = []
    i += len(_SYLLABLES)  # every word has at least two syllables
    while i:
        i, r = divmod(i, len(_SYLLABLES))
        out.append(_SYLLABLES[r])
    return "".join(out)


def _mutate(rng: np.random.Generator, toks: np.ndarray, rate: float, vocab: int) -> np.ndarray:
    out = toks.copy()
    hit = rng.random(len(out)) < rate
    out[hit] = rng.integers(0, vocab, int(hit.sum()))
    return out


def gen_corpus(seed: int, out: str) -> dict:
    cfg = SIZES["corpus"]
    rng = _rng("corpus", seed)
    words = np.array([_word(i) for i in range(cfg["vocab"])], dtype=object)
    word_p = 1.0 / (np.arange(cfg["vocab"]) + 3.0)
    word_p /= word_p.sum()

    def fresh() -> np.ndarray:
        return rng.choice(cfg["vocab"], size=int(rng.integers(MIN_TOKENS, MAX_TOKENS)), p=word_p)

    docs: list[np.ndarray] = []
    clusters: list[list[int]] = []
    # Planted near-duplicate clusters with Zipf sizes (the i-th is 64/i
    # wide, the same for every seed so every seed plants as many pairs)
    # and per-member edit rates spread across the Jaccard threshold.
    sizes = np.maximum(64 // np.arange(1, cfg["clusters"] + 1), 2)
    for size in sizes:
        src = fresh()
        members = [len(docs)]
        docs.append(src)
        for _ in range(size - 1):
            members.append(len(docs))
            docs.append(_mutate(rng, src, rng.uniform(0.0, 0.08), cfg["vocab"]))
        clusters.append(members)
    # One boilerplate cluster wider than the salting threshold: a shared
    # template with a single differing token.
    template = fresh()
    members = []
    for _ in range(cfg["boilerplate_width"]):
        doc = template.copy()
        doc[int(rng.integers(len(doc) - 3, len(doc)))] = int(rng.integers(0, cfg["vocab"]))
        members.append(len(docs))
        docs.append(doc)
    clusters.append(members)
    while len(docs) < cfg["docs"]:
        docs.append(fresh())
    doc_ids = rng.permutation(len(docs)).astype(np.int64) + 1
    texts = pa.array([" ".join(words[d]) for d in docs], pa.string())
    _write_split(pa.table({"doc_id": doc_ids, "text": texts}), os.path.join(out, "documents.parquet"), 4)
    # a smaller corpus of fresh documents for warm-up runs
    warm = [" ".join(words[fresh()]) for _ in range(cfg["warm_docs"])]
    _write_split(
        pa.table({"doc_id": np.arange(1, len(warm) + 1, dtype=np.int64), "text": pa.array(warm, pa.string())}),
        os.path.join(out, "warm_documents.parquet"),
        4,
    )

    dims = cfg["dims"]
    centers = rng.normal(0.0, 1.0, (cfg["centers"], dims))
    which = _zipf_choice(rng, cfg["centers"], cfg["vectors"], 0.8)
    vecs = (centers[which] + rng.normal(0.0, 0.35, (cfg["vectors"], dims))).astype(np.float32)
    vec_ids = np.arange(cfg["vectors"], dtype=np.int64)
    flat = pa.array(vecs.reshape(-1))
    emb = pa.FixedSizeListArray.from_arrays(flat, dims).cast(pa.list_(pa.float32()))
    _write_split(pa.table({"vec_id": vec_ids, "embedding": emb}), os.path.join(out, "embeddings.parquet"), 4)
    n_q = cfg["requests"] * cfg["request_vectors"]
    q_which = _zipf_choice(rng, cfg["centers"], n_q, 0.8)
    queries = (centers[q_which] + rng.normal(0.0, 0.35, (n_q, dims))).astype(np.float32)
    np.save(os.path.join(out, "queries.npy"), queries)
    return {
        "sizes": cfg,
        "docs": len(docs),
        "clusters": [[int(doc_ids[m]) for m in c] for c in clusters],
    }


GENERATORS = {"ais": gen_ais, "corpus": gen_corpus}


def generate(workload: str, seed: int, out: str) -> None:
    """Write the inputs for (workload, seed) into the empty directory `out`."""
    os.makedirs(out, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, **GENERATORS[workload](seed, out)}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)


def generate_apart(workload: str, seed: int, out: str) -> None:
    """`generate` in a child process, so the caller's peak memory does not
    include the generator's."""
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed), "--out", out],
        check=True,
        stdout=subprocess.DEVNULL,
    )


def ensure_inputs(cache_root: str, workload: str, seed: int) -> str:
    """Cached generation: returns the input directory for (workload, seed),
    generating it on first use. At most `CACHE_KEEP` seeds stay cached per
    workload."""
    path = os.path.join(cache_root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(path, "manifest.json")):
        os.utime(path)
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_apart(workload, seed, tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    mine = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith(f"{workload}-") and d[len(workload) + 1:].isdigit()
    ]
    for old in sorted(mine, key=os.path.getmtime)[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def load_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    t0 = time.perf_counter()
    generate(args.workload, args.seed, args.out)
    print(f"generated {args.workload} seed {args.seed} in {time.perf_counter() - t0:.2f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
