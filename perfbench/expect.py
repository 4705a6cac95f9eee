"""Result digests and the independent expectations they are checked against.

A digest is ``[rows, sum of a per-row hash]``: order-insensitive and
duplicate-sensitive. The per-row hash is Horner arithmetic modulo the
Mersenne prime 2^31-1 over integer columns (strings enter as their CRC-32),
squared once so that two wrong rows cannot cancel linearly. Every
intermediate stays below 2^63, so the Spark side never trips ANSI overflow
checks and the NumPy side computes bit-identical values.

The expectations never run the engine: they parse the staged parquet with
pyarrow and evaluate the repository's pure-Python models (``oracle.py``)
or NumPy restatements of each operator's documented contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pandas as pd

P = 2_147_483_647
K = 1_000_003


# ------------------------------------------------------------------ digests
def spark_digest(df, cols) -> list[int]:
    """Force ``df`` and return its digest over ``cols`` (long Columns)."""
    from pyspark.sql import functions as F

    h = F.lit(0).cast("long")
    for c in cols:
        h = F.pmod(h * F.lit(K) + F.pmod(c.cast("long"), F.lit(P)), F.lit(P))
    row = (
        df.select(F.pmod(h * h, F.lit(P)).alias("_h"))
        .agg(F.count("*").alias("n"), F.sum("_h").alias("s"))
        .collect()[0]
    )
    return [int(row["n"]), int(row["s"] or 0)]


def np_digest(cols) -> list[int]:
    """The NumPy twin of :func:`spark_digest` over int64 arrays."""
    n = len(cols[0])
    h = np.zeros(n, dtype=np.int64)
    for c in cols:
        h = (h * K + np.mod(np.asarray(c, dtype=np.int64), P)) % P
    return [n, int(((h * h) % P).sum())]


def crc(strings) -> np.ndarray:
    """CRC-32 of UTF-8 strings — the value Spark's ``crc32(string)`` gives."""
    return np.array([zlib.crc32(str(s).encode()) for s in strings], dtype=np.int64)


def input_fingerprint(paths: list[str]) -> str:
    """Short hash of the staged input rows, independent of file layout."""
    import pyarrow.parquet as pq

    h = hashlib.sha1()
    for p in paths:
        rows = pq.read_table(p).to_pylist()
        for line in sorted(json.dumps(r, sort_keys=True) for r in rows):
            h.update(line.encode())
    return h.hexdigest()[:12]


# ------------------------------------------------------------ docs models
def read_parquet(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def _pip_mask(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Vectorized ``oracle.pip_scalar``: boundary-inclusive crossing number
    in exact int64 (fixed-point coordinates keep every product < 2^53)."""
    inside = np.zeros(px.shape, dtype=bool)
    boundary = np.zeros(px.shape, dtype=bool)
    n = len(ring)
    for e in range(n):
        x1, y1 = ring[e]
        x2, y2 = ring[(e + 1) % n]
        lhs = (x2 - x1) * (py - y1)
        rhs = (y2 - y1) * (px - x1)
        boundary |= (
            (lhs - rhs == 0)
            & (min(x1, x2) <= px) & (px <= max(x1, x2))
            & (min(y1, y2) <= py) & (py <= max(y1, y2))
        )
        straddle = (y1 > py) != (y2 > py)
        flip = (rhs < lhs) if (y2 - y1) > 0 else (rhs > lhs)
        inside ^= straddle & flip
    return boundary | inside


def docs_expectation(docs_path: str, batch_paths: list[str], polys: pd.DataFrame) -> list:
    """Expected digests of the ``docs_pip_tile`` steps, in step order."""
    from osmflat_rs_spark import oracle

    pdf = read_parquet(docs_path)
    m = oracle.parse_docs_model(pdf)
    nodes, ways = m["nodes"], m["ways"]
    lat = nodes["lat"].to_numpy(np.int64)
    lon = nodes["lon"].to_numpy(np.int64)
    idx = nodes["node_idx"].to_numpy(np.int64)
    resolved = [sum(1 for _, i in refs if i is not None) for refs in ways["refs"]]
    ingest_d = [
        np_digest([idx, nodes["osm_id"], lat, lon]),
        np_digest([ways["way_idx"], ways["osm_id"], resolved]),
    ]

    pid, nid = [], []
    for p in polys.itertuples():
        ring = [(int(v["lon"]), int(v["lat"])) for v in p.ring]
        hit = idx[_pip_mask(lon, lat, ring)]
        pid.extend([p.polygon_id] * len(hit))
        nid.extend(hit.tolist())
    pip_d = np_digest([crc(pid), nid])

    tiles = oracle.q_tile_assign(m)
    tile_d = np_digest([tiles[c] for c in ("way_idx", "zoom", "tile_x", "tile_y")])

    batch_rows = [parquet_rows(p) for p in batch_paths]
    n_docs = len(pdf)
    read_d = np_digest([crc(pdf["doc_id"]), [len(s) for s in pdf["spans"]]])
    lineage = {"docs": 2 * n_docs}
    return (
        [ingest_d, pip_d, tile_d]
        + [[n] for n in batch_rows]
        + [read_d, [n_docs], sorted(lineage.items())]
    )


def parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


# ------------------------------------------------------- pair_joins models
def _sq_dists(a_lat, a_lon, b_lat, b_lon) -> np.ndarray:
    return (a_lat[:, None] - b_lat[None, :]) ** 2 + (a_lon[:, None] - b_lon[None, :]) ** 2


def knn_model(points: pd.DataFrame, queries: pd.DataFrame, k: int) -> list[int]:
    """(query_id, rank, d²) of the k nearest points — tie-insensitive: the
    distance at each rank is unique even where the point id is not."""
    plat, plon = points["lat"].to_numpy(np.int64), points["lon"].to_numpy(np.int64)
    qlat, qlon = queries["lat"].to_numpy(np.int64), queries["lon"].to_numpy(np.int64)
    d = np.sort(_sq_dists(qlat, qlon, plat, plon), axis=1)[:, :k]
    qid = np.repeat(crc(queries["query_id"]), k)
    rank = np.tile(np.arange(1, k + 1), len(queries))
    return np_digest([qid, rank, d.ravel()])


def radius_pairs_model(points: pd.DataFrame, radius: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All ordered (q, p) with d² ≤ radius², self pairs included."""
    lat, lon = points["lat"].to_numpy(np.int64), points["lon"].to_numpy(np.int64)
    ids = points["node_idx"].to_numpy(np.int64)
    qs, ps, ws = [], [], []
    for lo in range(0, len(ids), 512):
        d = _sq_dists(lat[lo:lo + 512], lon[lo:lo + 512], lat, lon)
        qi, pi = np.nonzero(d <= radius * radius)
        qs.append(ids[lo + qi])
        ps.append(ids[pi])
        ws.append(d[qi, pi])
    return np.concatenate(qs), np.concatenate(ps), np.concatenate(ws)


def _find(parent: dict, x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def mst_model(q, p, w) -> list[int]:
    """Kruskal under the operator's total edge order (w, u, v): the unique
    minimum spanning forest that ``boruvka_mst`` documents."""
    keep = q < p
    u, v, w = q[keep], p[keep], w[keep]
    parent = {int(x): int(x) for x in np.concatenate([u, v])}
    out = []
    for i in np.lexsort((v, u, w)):
        a, b = _find(parent, int(u[i])), _find(parent, int(v[i]))
        if a != b:
            parent[max(a, b)] = min(a, b)
            out.append((int(u[i]), int(v[i]), int(w[i])))
    cols = list(zip(*out)) if out else [[], [], []]
    return np_digest([np.array(c, dtype=np.int64) for c in cols])


def hex_pairs_model(hexes: pd.DataFrame, hex_ring) -> list[int]:
    """Unordered intersecting pairs of translated copies of one centrally
    symmetric convex hexagon H: c_a + H meets c_b + H (closed sets) iff
    c_b − c_a lies in H − H = 2H — an exact integer half-plane test."""
    cx = hexes["cx"].to_numpy(np.int64)
    cy = hexes["cy"].to_numpy(np.int64)
    ids = hexes["pid"].to_numpy(np.int64)
    verts = [(2 * x, 2 * y) for x, y in hex_ring]
    a_ids, b_ids = [], []
    for lo in range(0, len(ids), 512):
        dx = cx[None, :] - cx[lo:lo + 512, None]
        dy = cy[None, :] - cy[lo:lo + 512, None]
        ok = ids[None, :] > ids[lo:lo + 512, None]
        for e in range(len(verts)):
            x1, y1 = verts[e]
            x2, y2 = verts[(e + 1) % len(verts)]
            ok &= (x2 - x1) * (dy - y1) - (y2 - y1) * (dx - x1) >= 0
        ai, bi = np.nonzero(ok)
        a_ids.append(ids[lo + ai])
        b_ids.append(ids[bi])
    return np_digest([np.concatenate(a_ids), np.concatenate(b_ids)])


def _md5_slices(s: str, seed: int) -> list[int]:
    hx = hashlib.md5((s if seed == 0 else f"{seed}:{s}").encode()).hexdigest()
    return [int(hx[8 * j:8 * j + 8], 16) for j in range(4)]


def minhash_model(texts: pd.DataFrame, threshold: float, n_hashes: int = 8,
                  n_bands: int = 4, k: int = 3) -> list[int]:
    """The ``minhash_dedup`` pipeline restated in Python: word 3-shingles,
    md5-slice signatures, md5 band buckets, exact word-set jaccard."""
    rows = n_hashes // n_bands
    buckets: dict = {}
    wsets = {}
    for did, text in zip(texts["doc_id"].tolist(), texts["text"].tolist()):
        ws = text.lower().split()
        wsets[did] = set(ws)
        sh = [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)] if len(ws) >= k else [text.lower()]
        sig = [min(_md5_slices(s, i // 4)[i % 4] for s in sh) for i in range(n_hashes)]
        for b in range(n_bands):
            key = "_".join(str(x) for x in sig[b * rows:(b + 1) * rows])
            buckets.setdefault((b, hashlib.md5(key.encode()).hexdigest()), []).append(did)
    cand = {(a, c) for ids in buckets.values() for a in ids for c in ids if a < c}
    out = []
    for a, c in cand:
        inter = len(wsets[a] & wsets[c])
        jac = float(inter) / float(len(wsets[a]) + len(wsets[c]) - inter)
        if jac >= threshold:
            out.append((a, c, int(jac * 1e9)))
    cols = list(zip(*out)) if out else [[], [], []]
    return np_digest([np.array(c, dtype=np.int64) for c in cols])


# -------------------------------------------------------------------- cache
def cached(cache_dir: str, key: str, compute) -> dict:
    """Load the expectation for ``key`` or compute and store it."""
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value
