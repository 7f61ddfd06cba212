"""Correctness checks: plain-Python references for every graded output.

Each check returns a list of error strings (empty means correct). Nothing
here calls the engine; the workloads collect the engine's outputs and
hand them in as plain rows, so a deliberately corrupted output can be fed
to the same functions.
"""

from __future__ import annotations

import math

import numpy as np

from posting_lines_spark.functions.geo import KNOTS_PER_MPS, forward_py

MAX_ERRORS = 5  # a broken output would otherwise flood the log


def enriched_reference(row: dict) -> dict:
    """geom/len_m/sog_kt of one unprocessed segment: the kernel's Python
    mirror for the projection, then the reference's formulas
    (sql_to_line.py:214-223) for length and speed over ground."""
    x1, y1 = forward_py(row["start_lon"], row["start_lat"])
    x2, y2 = forward_py(row["end_lon"], row["end_lat"])
    len_m = math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
    dur = row["duration"]
    sog = (len_m / dur) * KNOTS_PER_MPS if dur > 0 else None
    return {"geom": {"srid": 3005, "x1": x1, "y1": y1, "x2": x2, "y2": y2}, "len_m": len_m, "sog_kt": sog}


def check_segments(inputs: list[dict], outputs: dict[int, dict]) -> list[str]:
    """`outputs` maps segment_id to the output row for each sampled input.
    Zero-duration rows must be gone, unprocessed rows must equal the
    reference bit for bit, processed rows must pass through unchanged.
    Returns one error per wrong row."""
    errors = []
    for row in inputs:
        sid = row["segment_id"]
        got = outputs.get(sid)
        if row["duration"] == 0:
            if got is not None:
                errors.append(f"segment {sid}: zero-duration row survived")
            continue
        if got is None:
            errors.append(f"segment {sid}: missing from output")
            continue
        want = enriched_reference(row) if row["geom"] is None else row
        bad = [c for c in ("geom", "len_m", "sog_kt") if got[c] != want[c]]
        bad += [
            c
            for c in ("start_time", "duration", "start_lon", "start_lat", "end_lon", "end_lat", "vessel_id")
            if got[c] != row[c]
        ]
        if bad:
            errors.append(f"segment {sid}: {', '.join(bad)} differ: {[(got[c], want[c]) for c in bad][:2]}")
    return errors


def check_daily_counts(rows: list[tuple[str, int]], expected: dict[str, int]) -> list[str]:
    """`rows` are (iso day, count) pairs as `daily_counts` returns them."""
    got = dict(rows)
    if len(got) != len(rows):
        return ["daily_counts returned a day twice"]
    if got == expected:
        return []
    bad = sorted(set(got) ^ set(expected)) or sorted(d for d in got if got[d] != expected[d])
    return [f"daily counts differ on {len(bad)} days, first {bad[0]}: {got.get(bad[0])} != {expected.get(bad[0])}"]


def shingle_set(text: str, k: int = 3) -> frozenset[str]:
    """Word k-shingles, as `operators.dedup.shingles` defines them."""
    toks = text.split(" ")
    return frozenset(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> tuple[int, float]:
    common = len(a & b)
    return common, common / (len(a) + len(b) - common)


def check_pairs(pairs: list[tuple[int, int, int, float]], shingles: dict[int, frozenset], threshold: float) -> list[str]:
    """Every reported (id_a, id_b, n_common, jaccard) must be ordered,
    unique, and carry the exact Jaccard, at or above the threshold."""
    errors = []
    if len({(a, b) for a, b, _, _ in pairs}) != len(pairs):
        errors.append("a pair is reported twice")
    for a, b, n_common, jac in pairs:
        if not a < b:
            errors.append(f"pair ({a}, {b}) is not ordered")
            continue
        want_common, want_jac = jaccard(shingles[a], shingles[b])
        if n_common != want_common or jac != want_jac or jac < threshold:
            errors.append(f"pair ({a}, {b}): ({n_common}, {jac}) != exact ({want_common}, {want_jac})")
        if len(errors) >= MAX_ERRORS:
            break
    return errors


def planted_pairs(clusters: list[list[int]], shingles: dict[int, frozenset], threshold: float) -> set[tuple[int, int]]:
    """Within-cluster pairs whose exact Jaccard reaches the threshold."""
    out = set()
    for members in clusters:
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                if jaccard(shingles[a], shingles[b])[1] >= threshold:
                    out.add((a, b))
    return out


def planted_recall(planted: set[tuple[int, int]], found: set[tuple[int, int]]) -> tuple[float, float]:
    """(pair recall, document recall) of a dedup run. Pair recall is the
    share of planted pairs found; document recall is the share of
    documents in a planted pair that are found paired with at least one
    planted partner."""
    hit = planted & found
    docs = {d for p in planted for d in p}
    return len(hit) / len(planted), len({d for p in hit for d in p}) / len(docs)


def components(pairs: list[tuple[int, int]]) -> dict[int, set[int]]:
    """Connected components of the pair graph, keyed by their min id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, set[int]] = {}
    for x in list(parent):
        groups.setdefault(find(x), set()).add(x)
    return {min(g): g for g in groups.values()}


def check_groups(groups: list[tuple[int, int, int]], pairs: list[tuple[int, int]]) -> list[str]:
    """`groups` are (survivor, n_members, n_drops) rows from `dedup_groups`."""
    want = {s: len(g) for s, g in components(pairs).items()}
    got = {}
    for survivor, n_members, n_drops in groups:
        if n_drops != n_members - 1:
            return [f"group {survivor}: n_drops {n_drops} != n_members - 1"]
        got[survivor] = n_members
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        return [f"{len(diff)} groups differ from the pair graph's components, first {diff[0]}"]
    return []


def exact_topk(queries: np.ndarray, corpus: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k (indexes, cosines) per query, ties to the lower index."""
    q = queries.astype(np.float64)
    c = corpus.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    idx = np.lexsort((np.broadcast_to(np.arange(c.shape[0]), cos.shape), -cos), axis=1)[:, :k]
    return idx, np.take_along_axis(cos, idx, axis=1)


def check_topk(
    results: dict[int, list[tuple[int, float, int]]],
    queries: np.ndarray,
    corpus: np.ndarray,
    k: int,
) -> tuple[list[str], float]:
    """`results[j]` holds (vec_id, cosine, rank) rows for query j, with
    vec_id the corpus row index. Returns (errors, recall@k against exact
    numpy cosine). An approximate search may miss neighbours (that is the
    recall); it may not report a wrong cosine, rank out of order, or
    more than k rows."""
    errors = []
    want_idx, _ = exact_topk(queries, corpus, k)
    qn = queries.astype(np.float64) / np.linalg.norm(queries.astype(np.float64), axis=1, keepdims=True)
    cn = corpus.astype(np.float64) / np.linalg.norm(corpus.astype(np.float64), axis=1, keepdims=True)
    hits = 0
    for j in range(len(queries)):
        rows = sorted(results.get(j, []), key=lambda r: r[2])
        if len(rows) > k or [r[2] for r in rows] != list(range(1, len(rows) + 1)):
            errors.append(f"query {j}: ranks {[r[2] for r in rows]}")
            continue
        cos = [r[1] for r in rows]
        if cos != sorted(cos, reverse=True):
            errors.append(f"query {j}: cosines not in descending order")
        for vec, c, _ in rows:
            if not math.isclose(c, float(qn[j] @ cn[vec]), rel_tol=1e-9, abs_tol=1e-12):
                errors.append(f"query {j}: cosine of {vec} is {c}, exact {float(qn[j] @ cn[vec])}")
                break
        hits += len({r[0] for r in rows} & set(want_idx[j].tolist()))
    return errors[:MAX_ERRORS], hits / (k * len(queries))
