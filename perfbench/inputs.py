"""Seeded input generation and independent expected outputs.

Nothing here touches Spark. ``generate`` writes a workload's inputs as
parquet from a seed; ``expected`` re-reads those same files and derives the
reference answer with numpy, or DuckDB SQL in the style of
``__spark_entry__.oracle_sql()``. The engine only ever sees the parquet.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: side of the square world of the triangulation points
WORLD = 1000.0

#: Stated input size of every workload (BENCHMARK.json cites these).
SIZES = {
    "spatial_weights": {
        # web geocodes: a 400x400 world at a uniform density of 0.0525 per
        # unit^2 (a band t=8 holds ~10.6 uniform neighbors), 8 hot spots of
        # 300 points each, and coincident copies of 480 distinct hot points
        "world": 400.0,
        "uniform_points": 8400,
        "hot_spots": 8,
        "points_per_spot": 300,
        "hot_sigma": 3.0,
        "dup_points": 480,
        "band": 8.0,
        "k": 10,
        "lattice_side": 50,
        "pip_points": 20000,
        "pip_cell": 2.0,
        "lineage_buckets": 8,
    },
    "udf_text": {
        "tri_points": 1200,
        "docs": 1000,
        "vocab": 20000,
        "zipf_a": 1.1,
        "zipf_q": 50.0,
        "doc_tokens": (30, 90),
        "clusters": 50,
        "edits": 3,
        "vectors": 600,
        "dim": 32,
        "near_vectors": 0.05,
        "cosine": 0.6,
        "ann_blocks": 4,
    },
}

WORKLOADS = tuple(SIZES)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Distinct shuffled int64 ids, so id order says nothing about position."""
    return rng.permutation(n).astype(np.int64) * 7919 + 13


def _points_table(ids, xy, **extra) -> pa.Table:
    cols = {"id": ids, "x": xy[:, 0], "y": xy[:, 1], **extra}
    return pa.table(cols)


# -- generation ---------------------------------------------------------------


def _hot_centers(rng, spots: int, world: float) -> np.ndarray:
    """Hot-spot centres on a jittered grid: they never merge, so every seed
    gets the same skew (same spot count and size), only placed differently."""
    cols = int(math.ceil(math.sqrt(spots)))
    rows = int(math.ceil(spots / cols))
    cell = np.array([world / cols, world / rows])
    grid = np.array([(i % cols, i // cols) for i in range(spots)], dtype=float)
    return (grid + 0.5 + rng.uniform(-0.3, 0.3, (spots, 2))) * cell


def _gen_geo(rng, sz, out):
    """Web-geocode points: uniform background, Gaussian hot spots of equal
    size, and coincident duplicates of hot points; plus an attribute ``val``."""
    n_hot = sz["hot_spots"] * sz["points_per_spot"]
    n_dup = sz["dup_points"]
    n = sz["uniform_points"] + n_hot + n_dup
    uni = rng.uniform(0.0, sz["world"], (sz["uniform_points"], 2))
    centers = _hot_centers(rng, sz["hot_spots"], sz["world"])
    spot = np.arange(n_hot) % sz["hot_spots"]
    hot = centers[spot] + rng.normal(0.0, sz["hot_sigma"], (n_hot, 2))
    # coincident geocodes: each duplicate copies a DISTINCT hot point, so no
    # location holds more than two ids (keeps every kth-NN distance > 0)
    dup = hot[rng.choice(n_hot, n_dup, replace=False)]
    xy = np.vstack([uni, hot, dup])
    _write(
        _points_table(_ids(rng, n), xy, val=rng.normal(10.0, 3.0, n)),
        os.path.join(out, "points.parquet"),
    )


def _gen_lattice(rng, sz, out):
    """Lattice cells with shuffled ids, and points to locate in them."""
    side = sz["lattice_side"]
    n_cells = side * side
    order = rng.permutation(n_cells)
    _write(
        pa.table(
            {
                "id": _ids(rng, n_cells),
                "gx": (order % side).astype(np.int64),
                "gy": (order // side).astype(np.int64),
            }
        ),
        os.path.join(out, "cells.parquet"),
    )
    pxy = rng.uniform(0.0, float(side), (sz["pip_points"], 2))
    _write(
        _points_table(_ids(rng, sz["pip_points"]), pxy),
        os.path.join(out, "pip_points.parquet"),
    )


def _gen_spatial(rng, sz, out):
    _gen_geo(rng, sz, out)
    _gen_lattice(rng, sz, out)


def _gen_tri(rng, sz, out):
    n = sz["tri_points"]
    xy = rng.uniform(0.0, WORLD, (n, 2))
    _write(_points_table(_ids(rng, n), xy), os.path.join(out, "tri_points.parquet"))


def _gen_docs(rng, sz, out):
    """Pages text: Zipf-Mandelbrot words, planted near-duplicate clusters
    (a base page plus 1-3 copies with a few words replaced; every third
    cluster's first copy is exact), the rest independent pages."""
    vocab_n = sz["vocab"]
    letters = rng.integers(97, 123, (vocab_n, 8), dtype=np.uint8)
    lengths = rng.integers(3, 9, vocab_n)
    vocab = np.array(
        [letters[i, : lengths[i]].tobytes().decode() + str(i) for i in range(vocab_n)]
    )
    lo, hi = sz["doc_tokens"]
    # p(r) ~ (r + q)^-a: a heavy tail, but no single word carries enough
    # mass to make every SimHash alike
    freq = (np.arange(1, vocab_n + 1) + sz["zipf_q"]) ** -sz["zipf_a"]
    cdf = np.cumsum(freq / freq.sum())

    def draw_doc():
        m = int(rng.integers(lo, hi + 1))
        ranks = np.minimum(np.searchsorted(cdf, rng.random(m), side="right"), vocab_n - 1)
        return list(vocab[ranks])

    n_docs = sz["docs"]
    texts: list[str] = []
    cluster: list[int] = []
    for c in range(sz["clusters"]):
        base = draw_doc()
        texts.append(" ".join(base))
        cluster.append(c)
        for j in range(1 + c % 3):
            words = list(base)
            if not (j == 0 and c % 3 == 0):
                for pos in rng.choice(len(words), sz["edits"], replace=False):
                    words[pos] = vocab[rng.integers(0, vocab_n)]
            texts.append(" ".join(words))
            cluster.append(c)
    while len(texts) < n_docs:
        texts.append(" ".join(draw_doc()))
        cluster.append(-1)
    perm = rng.permutation(n_docs)
    _write(
        pa.table(
            {
                "doc_id": _ids(rng, n_docs),
                "text": [texts[i] for i in perm],
                "cluster": np.array(cluster, dtype=np.int64)[perm],
            }
        ),
        os.path.join(out, "docs.parquet"),
    )


def _gen_vectors(rng, sz, out):
    """Unit embeddings; a share of them are noisy copies of others."""
    nv, dim = sz["vectors"], sz["dim"]
    vec = rng.normal(0.0, 1.0, (nv, dim))
    n_near = int(nv * sz["near_vectors"])
    src = rng.choice(nv, n_near, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(nv), src), n_near, replace=False)
    vec[dst] = vec[src] + rng.normal(0.0, 0.15, (n_near, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": _ids(rng, nv),
                "embedding": pa.array(list(vec), type=pa.list_(pa.float64())),
            }
        ),
        os.path.join(out, "vectors.parquet"),
    )


def _gen_udf_text(rng, sz, out):
    _gen_tri(rng, sz, out)
    _gen_docs(rng, sz, out)
    _gen_vectors(rng, sz, out)


_GENERATORS = {"spatial_weights": _gen_spatial, "udf_text": _gen_udf_text}


def generate(workload: str, seed: int, out: str) -> None:
    """Write ``workload``'s inputs for ``seed`` as parquet files under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    _GENERATORS[workload](rng, SIZES[workload], out)


# -- expected outputs ---------------------------------------------------------


def _read(path: str) -> dict:
    return pq.read_table(path).to_pydict()


def _read_np(path: str, *cols) -> list[np.ndarray]:
    t = pq.read_table(path, columns=list(cols))
    return [t.column(c).to_numpy() for c in cols]


def _band_sql(path: str, t: float) -> str:
    """The oracle's band CTE with the range predicate bucketed into cells of
    side ``t``: each point is copied into its 3x3 neighbor cells, so DuckDB
    runs one hash equi-join instead of a nested loop."""
    return f"""
WITH pts AS (
  SELECT id, x, y, CAST(floor(x / {t}) AS BIGINT) AS cx, CAST(floor(y / {t}) AS BIGINT) AS cy
  FROM read_parquet('{path}')
),
nb AS (
  SELECT id, x, y, cx + a.range AS cx, cy + b.range AS cy
  FROM pts, range(-1, 2) a, range(-1, 2) b
)
SELECT p.id AS focal, q.id AS neighbor,
       sqrt((p.x-q.x)*(p.x-q.x) + (p.y-q.y)*(p.y-q.y)) AS dist
FROM pts p JOIN nb q ON q.cx = p.cx AND q.cy = p.cy
WHERE p.id <> q.id
  AND sqrt((p.x-q.x)*(p.x-q.x) + (p.y-q.y)*(p.y-q.y)) <= {t}"""


def _duckdb(q: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        return con.execute(q).fetchnumpy()
    finally:
        con.close()


def band_pairs_sql(path: str, t: float) -> np.recarray:
    """(focal, neighbor, dist) rows with dist <= t, via DuckDB on the parquet,
    sorted by (focal, neighbor)."""
    arr = _duckdb(_band_sql(path, t))
    f, n = arr["focal"].astype(np.int64), arr["neighbor"].astype(np.int64)
    order = np.lexsort((n, f))
    return np.rec.fromarrays([f[order], n[order], arr["dist"][order]],
                             names="focal,neighbor,dist")


#: radius of the kNN reference's candidate join; foci with fewer than k
#: candidates inside it are brute-forced
KNN_RADIUS = 12.0
#: focal rows per brute-force kNN block (bounds the distance matrix)
_KNN_CHUNK = 512


def _knn_brute(ids: np.ndarray, xy: np.ndarray, k: int, rows: np.ndarray):
    """k nearest neighbors of the points at ``rows`` against all points."""
    out_f, out_n, out_d = [], [], []
    for s in range(0, len(rows), _KNN_CHUNK):
        r = rows[s : s + _KNN_CHUNK]
        dx = xy[r, 0][:, None] - xy[None, :, 0]
        dy = xy[r, 1][:, None] - xy[None, :, 1]
        d = np.sqrt(dx * dx + dy * dy)
        d[np.arange(len(r)), r] = np.inf
        kth = np.partition(d, k - 1, axis=1)[:, k - 1]
        i, j = np.nonzero(d <= kth[:, None])
        order = np.lexsort((ids[j], d[i, j], i))
        i, j = i[order], j[order]
        rank = np.arange(len(i)) - np.searchsorted(i, i)
        keep = rank < k
        out_f.append(ids[r[i[keep]]])
        out_n.append(ids[j[keep]])
        out_d.append(d[i[keep], j[keep]])
    if not out_f:
        return np.array([], np.int64), np.array([], np.int64), np.array([])
    return np.concatenate(out_f), np.concatenate(out_n), np.concatenate(out_d)


def knn_table(path: str, k: int):
    """Exact k nearest neighbors, self excluded, ties broken by neighbor id.

    DuckDB ranks every neighbor within ``KNN_RADIUS``; a focal with at least
    k of them has its k nearest among them (anything outside is farther than
    its kth). The rest are brute-forced in numpy. Returns (focal, neighbor,
    dist) arrays, k rows per focal, sorted by focal then rank."""
    arr = _duckdb(f"""
WITH cand AS ({_band_sql(path, KNN_RADIUS)})
SELECT focal, neighbor, dist, cnt FROM (
  SELECT *, row_number() OVER (PARTITION BY focal ORDER BY dist, neighbor) AS rk,
         count(*) OVER (PARTITION BY focal) AS cnt
  FROM cand)
WHERE rk <= {k} AND cnt >= {k}""")
    f, n, d = arr["focal"].astype(np.int64), arr["neighbor"].astype(np.int64), arr["dist"]
    order = np.lexsort((n, d, f))
    ids, x, y = _read_np(path, "id", "x", "y")
    short = np.nonzero(~np.isin(ids, f))[0]
    bf, bn, bd = _knn_brute(ids, np.column_stack([x, y]), k, short)
    return (np.concatenate([f[order], bf]), np.concatenate([n[order], bn]),
            np.concatenate([d[order], bd]))


#: pairs per block of the Gabriel reference's exact emptiness test
_GABRIEL_CHUNK = 256
#: nearest neighbours of each endpoint tried as blockers before the exact test
_GABRIEL_NN = 8


def gabriel_pairs(ids: np.ndarray, xy: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Gabriel graph by brute force over all pairs, with no triangulation.

    A pair (a, b) is an edge when no other point k lies strictly inside the
    disk with diameter ab: ``d(a,b)^2 > d(a,k)^2 + d(b,k)^2`` for no k (the
    engine's predicate). Pairs that a near neighbour of either endpoint
    already blocks are rejected first; every other pair is tested against all
    points. Returns (a, b) id arrays with a < b."""
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    nn = np.argsort(d2, axis=1)[:, 1 : _GABRIEL_NN + 1]
    i, j = np.triu_indices(len(ids), k=1)
    blocked = np.zeros(len(i), dtype=bool)
    for end, other in ((i, j), (j, i)):
        for t in range(nn.shape[1]):
            k = nn[end, t]
            blocked |= d2[i, j] > d2[end, k] + d2[other, k]
    i, j = i[~blocked], j[~blocked]
    keep = np.ones(len(i), dtype=bool)
    for s in range(0, len(i), _GABRIEL_CHUNK):
        a, b = i[s : s + _GABRIEL_CHUNK], j[s : s + _GABRIEL_CHUNK]
        keep[s : s + _GABRIEL_CHUNK] = ~(d2[a, b][:, None] > d2[a] + d2[b]).any(axis=1)
    a, b = ids[i[keep]], ids[j[keep]]
    return np.minimum(a, b), np.maximum(a, b)


def _components(ids: np.ndarray, focal: np.ndarray, neighbor: np.ndarray) -> dict:
    """id -> minimum id of its connected component (union-find)."""
    parent = {int(i): int(i) for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(focal.tolist(), neighbor.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {i: find(i) for i in parent}


def _edges_with_isolates(ids, focal, neighbor, weight):
    """Append the zero-weight self-loop of every id without an edge."""
    iso = np.setdiff1d(ids, focal)
    return (
        np.concatenate([focal, iso]),
        np.concatenate([neighbor, iso]),
        np.concatenate([weight, np.zeros(len(iso))]),
    )


def portable_hash(s: str) -> int:
    """``text.dedup.portable_hash`` re-derived: first 15 hex digits of md5."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# the defaults of the engine's text.dedup functions, which the benchmark
# calls with their defaults
SHINGLE_N = 3
MINHASH_HASHES = 16
MINHASH_BANDS = 4
MINHASH_P = 2_147_483_647


def shingles(text: str) -> list[str]:
    toks = text.strip().split()
    m = max(len(toks) - (SHINGLE_N - 1), 1)
    return sorted({" ".join(toks[i : i + SHINGLE_N]) for i in range(m)})


def minhash_pairs(ids, texts) -> set:
    """``text.dedup.minhash_candidates`` re-derived: the same affine hash
    family over distinct word 3-shingles, LSH bands keyed by the joined
    signature values; every (a < b) pair sharing a band bucket."""
    p, bands = MINHASH_P, MINHASH_BANDS
    a = np.array([1_000_003 * i + 17 for i in range(MINHASH_HASHES)], dtype=np.int64)
    b = np.array([7_919 * i + 1 for i in range(MINHASH_HASHES)], dtype=np.int64)
    rows = MINHASH_HASHES // bands
    buckets: dict = {}
    for doc, text in zip(ids.tolist(), texts):
        h = np.array([portable_hash(s) % p for s in shingles(text)], dtype=np.int64)
        sig = ((a[:, None] * h[None, :] + b[:, None]) % p).min(axis=1)
        for band in range(bands):
            key = "_".join(str(v) for v in sig[band * rows : (band + 1) * rows])
            buckets.setdefault((band, key), []).append(doc)
    pairs = set()
    for docs in buckets.values():
        docs.sort()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                pairs.add((docs[i], docs[j]))
    return pairs


def _exp_spatial(d, sz):
    path = os.path.join(d, "points.parquet")
    ids, x, y, val = _read_np(path, "id", "x", "y", "val")
    band = band_pairs_sql(path, sz["band"])
    bf, bn, bw = _edges_with_isolates(ids, band.focal, band.neighbor, np.ones(len(band)))

    # the graph algebra runs on the kNN graph: k neighbors each, no isolates
    qf, qn, _ = knn_table(path, sz["k"])
    row_std = np.full(len(qf), 1.0 / sz["k"])
    y_of = dict(zip(ids.tolist(), val.tolist()))
    lag = {int(i): 0.0 for i in ids}
    for a, b, w in zip(qf.tolist(), qn.tolist(), row_std.tolist()):
        lag[a] += w * y_of[b]

    side = sz["lattice_side"]
    cid, gx, gy = _read_np(os.path.join(d, "cells.parquet"), "id", "gx", "gy")
    at = np.full((side, side), -1, dtype=np.int64)
    at[gx, gy] = cid
    cf, cn = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            ok = (gx + dx >= 0) & (gx + dx < side) & (gy + dy >= 0) & (gy + dy < side)
            if dx or dy:
                cf.append(cid[ok])
                cn.append(at[gx[ok] + dx, gy[ok] + dy])
    cf, cn = np.concatenate(cf), np.concatenate(cn)

    pid, px, py = _read_np(os.path.join(d, "pip_points.parquet"), "id", "x", "y")
    return {
        "operators.distance.distance_band": (bf, bn, bw),
        "operators.distance.knn": (qf, qn, np.ones(len(qf))),
        "graph.lag": lag,
        "graph.component_labels": _components(ids, qf, qn),
        "io.weights_io.read_parquet": (qf, qn, row_std),
        "operators.contiguity.queen": (cf, cn, np.ones(len(cf))),
        "plans.lineage.write_with_lineage": len(cf),
        "operators.pip.pip_join": (pid, at[np.floor(px).astype(int), np.floor(py).astype(int)]),
    }


def _exp_udf_text(d, sz):
    tid, x, y = _read_np(os.path.join(d, "tri_points.parquet"), "id", "x", "y")
    ga, gb = gabriel_pairs(tid, np.column_stack([x, y]))

    docs = _read(os.path.join(d, "docs.parquet"))
    ids = np.array(docs["doc_id"], dtype=np.int64)
    texts = docs["text"]
    groups: dict = {}
    for i, t in zip(ids.tolist(), texts):
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        keep, cnt = groups.get(h, (i, 0))
        groups[h] = (min(keep, i), cnt + 1)
    cl = np.array(docs["cluster"], dtype=np.int64)
    planted = set()
    for c in np.unique(cl[cl >= 0]):
        members = np.sort(ids[cl == c]).tolist()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                planted.add((members[i], members[j]))

    vec = _read(os.path.join(d, "vectors.parquet"))
    vid = np.array(vec["vec_id"], dtype=np.int64)
    v = np.array(vec["embedding"], dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    iu = np.triu_indices(len(vid), k=1)
    a, b = vid[iu[0]], vid[iu[1]]
    return {
        "operators.triangulation.gabriel": _edges_with_isolates(
            tid, np.concatenate([ga, gb]), np.concatenate([gb, ga]), np.ones(2 * len(ga))
        ),
        "text.dedup.exact_duplicates": groups,
        "text.dedup.minhash_candidates": minhash_pairs(ids, texts),
        "planted_pairs": planted,
        "text.ann.cosine_threshold_pairs": (
            np.minimum(a, b), np.maximum(a, b), (v @ v.T)[iu]
        ),
    }


_EXPECTED = {"spatial_weights": _exp_spatial, "udf_text": _exp_udf_text}


def expected(workload: str, inputs_dir: str) -> dict:
    """Reference outputs derived from the generated parquet, keyed by call."""
    return _EXPECTED[workload](inputs_dir, SIZES[workload])


def digest(obj) -> str:
    """Order-independent sha256 of an expected-output value."""
    h = hashlib.sha256()
    if isinstance(obj, dict):
        for k in sorted(obj, key=repr):
            h.update(repr(k).encode())
            h.update(digest(obj[k]).encode())
    elif isinstance(obj, (set, frozenset)):
        for item in sorted(obj):
            h.update(repr(item).encode())
    elif isinstance(obj, tuple):
        for arr in obj:
            h.update(np.ascontiguousarray(arr).tobytes())
    else:
        h.update(repr(obj).encode())
    return h.hexdigest()
