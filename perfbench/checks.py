"""Output checks: order-independent content hashes and invariants.

A content hash is the sum, modulo 2**64, of a 64-bit digest of each row's
canonical ``repr``, so it ignores row order and partitioning and can be
computed the same way from Spark results and from ``oracle.run_oracle``.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

NODE_COLS = ("id", "lat", "lon", "type")
EDGE_COLS = (
    "id", "from_node_id", "to_node_id", "length_m", "lats", "lons", "name",
    "type", "width_raw", "width_m", "width_source", "original_way_id",
)
# the rollup sums lengths in an order that depends on partitioning
ROLLUP_DECIMALS = 3


def _canon(v):
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float) and v == 0.0:
        return 0.0  # -0.0 and 0.0 are the same value
    return v


def content_hash(rows) -> str:
    total = 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(_canon(v) for v in row)).encode(), digest_size=8)
        total = (total + int.from_bytes(digest.digest(), "little")) % (1 << 64)
    return f"{total:016x}"


def _cell_cols(cfg) -> tuple[str, ...]:
    return tuple(f"cell_r{r}" for r in cfg.tile_resolutions)


def graph_rows_from_spark(graph, cfg) -> dict[str, list[tuple]]:
    """Canonical rows of an engine ``GraphResult`` (the columns the oracle
    defines; the ``covering`` column has no oracle twin)."""
    cells = _cell_cols(cfg)

    def rows(df, cols):
        return [tuple(r[c] for c in cols) for r in df.select(*cols).toArrow().to_pylist()]

    return {
        "nodes": rows(graph.nodes, NODE_COLS + cells),
        "edges": rows(graph.edges, EDGE_COLS + cells),
        "rollup": [
            (res, cell, n, round(length, ROLLUP_DECIMALS))
            for res, cell, n, length in rows(
                graph.tile_rollup, ("res", "cell", "edge_count", "total_length_m")
            )
        ],
    }


def graph_rows_from_oracle(result, cfg) -> dict[str, list[tuple]]:
    """The same canonical rows from a single-process ``OracleResult``."""
    from osmwaterwayextractor_spark.oracle import tile_assignments

    node_cells, edge_cells = tile_assignments(result.nodes, result.edges, cfg)
    cells = _cell_cols(cfg)
    ncell = {r["id"]: tuple(r[c] for c in cells) for r in node_cells}
    ecell = {r["id"]: tuple(r[c] for c in cells) for r in edge_cells}
    nodes = [tuple(n[c] for c in NODE_COLS) + ncell[n["id"]] for n in result.nodes]
    edges = []
    sums: dict[tuple[int, int], list] = {}
    for e in result.edges:
        coords = e["coordinates"]
        base = {**e, "lats": [c[0] for c in coords], "lons": [c[1] for c in coords]}
        edges.append(tuple(base[c] for c in EDGE_COLS) + ecell[e["id"]])
        for res, cell in zip(cfg.tile_resolutions, ecell[e["id"]]):
            acc = sums.setdefault((res, cell), [0, 0.0])
            acc[0] += 1
            acc[1] += e["length_m"]
    rollup = [(res, cell, n, round(length, ROLLUP_DECIMALS)) for (res, cell), (n, length) in sums.items()]
    return {"nodes": nodes, "edges": edges, "rollup": rollup}


def graph_digest(rows: dict[str, list[tuple]]) -> dict:
    return {k: {"rows": len(v), "hash": content_hash(v)} for k, v in sorted(rows.items())}


def graph_invariants(rows: dict[str, list[tuple]], cfg) -> list[str]:
    """Problems that hold for any input: referential integrity of the edge
    list and a rollup that adds up to the edge table."""
    problems = []
    node_ids = [r[0] for r in rows["nodes"]]
    edge_ids = [r[0] for r in rows["edges"]]
    if not edge_ids:
        problems.append("no edges")
    if len(set(node_ids)) != len(node_ids):
        problems.append("duplicate node ids")
    if len(set(edge_ids)) != len(edge_ids):
        problems.append("duplicate edge ids")
    known = set(node_ids)
    if any(r[1] not in known or r[2] not in known for r in rows["edges"]):
        problems.append("edge endpoint missing from nodes")
    first_cell = len(EDGE_COLS)
    for i, res in enumerate(cfg.tile_resolutions):
        want = Counter(r[first_cell + i] for r in rows["edges"])
        got = {cell: n for r_res, cell, n, _ in rows["rollup"] if r_res == res}
        if got != dict(want):
            problems.append(f"rollup at res {res} disagrees with the edge cells")
    return problems


# --------------------------------------------------------------------------
# entry queries


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # results rounded to 3 decimals may differ by one unit in the last place
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1.01e-3)
    return a == b


def rows_match(got: list[dict], want: list[dict]) -> bool:
    """Multiset equality of two row lists; non-float values must match
    exactly, floats within rounding."""
    if len(got) != len(want):
        return False

    def key(r):
        return tuple((k, v) for k, v in sorted(r.items()) if not isinstance(v, float))

    g = sorted(got, key=lambda r: repr(key(r)))
    w = sorted(want, key=lambda r: repr(key(r)))
    return all(
        set(a) == set(b) and all(_close(a[c], b[c]) for c in a) for a, b in zip(g, w)
    )


def _shingles(text: str) -> frozenset[str]:
    toks = text.lower().split()
    return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))


def exact_jaccard_pairs(texts: dict[int, str], threshold: float) -> dict[tuple[int, int], float]:
    """Every pair of documents whose word-3-gram Jaccard is at least
    ``threshold``, by brute force over the pairs that share a shingle."""
    sets = {d: _shingles(t) for d, t in texts.items()}
    by_shingle: dict[str, list[int]] = {}
    for d, sh in sets.items():
        for g in sh:
            by_shingle.setdefault(g, []).append(d)
    candidates = {(a, b) for ds in by_shingle.values() for a in ds for b in ds if a < b}
    out = {}
    for a, b in candidates:
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def minhash_problems(pairs: list[dict], texts: dict[int, str], threshold: float = 0.5,
                     min_recall: float = 0.75) -> list[str]:
    """Every reported pair must carry its exact word-3-gram Jaccard, and the
    pairs must hold at least ``min_recall`` of all pairs at or above
    ``threshold``. MinHash banding misses some pairs near the threshold: on
    the benchmark's documents, seeds 1-8, recall was 0.85-0.95."""
    exact = exact_jaccard_pairs(texts, threshold)
    if not exact:
        return ["the documents hold no near-duplicate pair to find"]
    for p in pairs:
        j = exact.get((p["doc_a"], p["doc_b"]))
        if j is None or abs(round(j, 6) - p["jaccard"]) > 1e-9:
            return [f"minhash pair {p['doc_a']},{p['doc_b']} has jaccard {p['jaccard']}, exact {j}"]
    found = {(p["doc_a"], p["doc_b"]) for p in pairs}
    if len(found) != len(pairs):
        return ["minhash pairs repeat"]
    recall = len(found) / len(exact)
    if recall < min_recall:
        return [f"minhash recall {recall:.3f} of {len(exact)} pairs is below {min_recall}"]
    return []


def lsh_problems(rows: list[dict], vectors: dict[int, list[float]], query_ids: list[int],
                 k: int = 3, min_recall: float = 0.8) -> list[str]:
    """Every reported neighbour must carry its exact cosine, ranked 1..m by
    descending cosine, and the neighbours must hold at least ``min_recall``
    of the exact top-``k`` of the queries (self excluded). On the
    benchmark's vectors, seeds 1-8, recall was 0.90-1.0."""
    import numpy as np

    ids = sorted(vectors)
    mat = np.asarray([vectors[i] for i in ids], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    row_of = {v: i for i, v in enumerate(ids)}
    by_q: dict[int, list[dict]] = {}
    for r in rows:
        exact = float(mat[row_of[r["query_id"]]] @ mat[row_of[r["neighbor_id"]]])
        if abs(exact - r["cosine"]) > 1.1e-5:
            return [f"lsh neighbour {r['query_id']},{r['neighbor_id']} cosine {r['cosine']} != {exact}"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        if [r["rank"] for r in rs] != list(range(1, len(rs) + 1)) or len(rs) > k:
            return [f"lsh ranks for query {q} are not 1..m"]
        if any(x["cosine"] < y["cosine"] for x, y in zip(rs, rs[1:])):
            return [f"lsh ranks for query {q} are not by descending cosine"]
    found = 0
    for q in query_ids:
        cos = mat @ mat[row_of[q]]
        cos[row_of[q]] = -np.inf
        top = {ids[i] for i in np.argsort(-cos, kind="stable")[:k]}
        found += len(top & {r["neighbor_id"] for r in by_q.get(q, [])})
    recall = found / (k * len(query_ids))
    if recall < min_recall:
        return [f"lsh recall {recall:.3f} of the exact top-{k} is below {min_recall}"]
    return []
