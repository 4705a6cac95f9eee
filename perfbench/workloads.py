"""The benchmark's workloads: seeded inputs, staging, and one pass's calls.

Each workload is a fixed sequence of calls into the engine's public
functions. A call is two halves: ``call`` makes the engine call (plan
construction plus any jobs it runs eagerly) and ``force`` computes the
result's digest, which runs whatever the call left lazy. The harness times
both halves and compares the digest with the expectation from
``expect.py``.

Seeds reach the inputs only through generators: ``fixtures.generate_docs``
and ``generate_polygons`` take the seed directly; the point, hexagon and
text inputs of ``pair_joins`` come from a NumPy generator seeded here (the
repository's text generator and the hexagon scatter of ``bench.py`` have
no seed). Staging writes parquet with pyarrow, so set-up runs no Spark job.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

import expect

#: one row per workload size; "tiny" exists for the self-test only
SIZES = {
    "docs_pip_tile": {
        "default": {"n_nodes": 2000, "n_polys": 25, "n_batches": 3},
        "tiny": {"n_nodes": 600, "n_polys": 25, "n_batches": 3},
    },
    "pair_joins": {
        # radius: ~44 edges; the largest component has < 4 points in ~98% of
        # seeds, so Boruvka's round count (each round ~1.5 s here) does not
        # vary with the seed
        "default": {"n_points": 1500, "n_queries": 100, "radius": 10_000,
                    "knn_radius": 120_000, "n_hex": 600, "n_text": 1000},
        "tiny": {"n_points": 300, "n_queries": 20, "radius": 100_000,
                 "knn_radius": 300_000, "n_hex": 150, "n_text": 300},
    },
}

#: the ``run_poly_bench`` hexagon (fixed-point lon/lat offsets): convex and
#: centrally symmetric, which is what makes ``expect.hex_pairs_model`` exact
HEX = [(160000, 0), (80000, 138564), (-80000, 138564),
       (-160000, 0), (-80000, -138564), (80000, -138564)]
KNN_K = 5
JACCARD = 0.5


@dataclass
class Step:
    name: str
    call: Callable
    force: Callable


@dataclass
class Workload:
    name: str
    size: dict
    steps: list[Step]
    #: input rows a pass consumes (the docs/s numerator)
    n_input: int = 0
    paths: dict = field(default_factory=dict)


# ---------------------------------------------------------------- helpers
def _write(table, path: str) -> str:
    """Stage an Arrow table as one parquet file under ``path``."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def _data_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------- docs_pip_tile
def _docs_schema():
    """The input-hint schema ``fixtures.docs_to_spark`` gives the engine."""
    import pyarrow as pa

    span = pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])
    return pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.field("item", span, nullable=False)), nullable=False),
    ])


def stage_docs(seed: int, size: dict, out: str) -> dict:
    """Generate the seeded docs table (the golden generator ``bench.py``'s
    docs pipeline uses, at its 2000:300:50 entity mix) and stage it, plus
    ``n_batches`` disjoint batches split by a hash of doc_id and the seed."""
    import pyarrow as pa

    from osmflat_rs_spark.fixtures import generate_docs

    n = size["n_nodes"]
    pdf, _ = generate_docs(n_nodes=n, n_ways=n * 3 // 20, n_rels=n // 40, seed=seed)
    pdf = pdf[["doc_id", "spans"]]
    schema = _docs_schema()
    paths = {"docs": _write(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                            f"{out}/docs")}
    bucket = expect.crc([f"{seed}:{d}" for d in pdf["doc_id"]]) % size["n_batches"]
    for b in range(size["n_batches"]):
        part = pdf[bucket == b]
        paths[f"batch{b}"] = _write(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False), f"{out}/batch{b}"
        )
    return paths


def docs_workload(spark, seed: int, size: dict, paths: dict, work: str) -> tuple[Workload, dict]:
    from pyspark.sql import functions as F

    from osmflat_rs_spark import queries as refq
    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark.ingest import ingest
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.operators.tiling import tile_assign_segments

    ctx = {
        "docs": spark.read.parquet(paths["docs"]),
        "batches": [spark.read.parquet(paths[f"batch{b}"]) for b in range(size["n_batches"])],
        "polys": polygons_to_spark(spark, generate_polygons(seed=seed, n_poly=size["n_polys"])),
        "work": work,
    }

    def _ingest(c):
        c["t"] = ingest(c["docs"], compute_metrics=False, with_dims=False)
        return c["t"]

    def _ingest_force(c, t):
        resolved = F.size(F.filter("refs", lambda r: r["node_idx"].isNotNull()))
        return [
            expect.spark_digest(t["nodes"], [F.col(x) for x in ("node_idx", "osm_id", "lat", "lon")]),
            expect.spark_digest(t["ways"], [F.col("way_idx"), F.col("osm_id"), resolved]),
        ]

    def _pip_force(c, out):
        d = expect.spark_digest(out, [F.crc32("polygon_id"), F.col("node_idx")])
        c["pip_pairs"] = d[0]
        return d

    def _append(b):
        return lambda c: c["cat"].append("docs", c["batches"][b])

    def _append_force(c, snap):
        manifest = c["cat"].manifest("docs", snap)
        n_bytes, n_files = _data_bytes(manifest["data_dir"])
        c["append_bytes"] += n_bytes
        c["append_files"] += n_files
        return [manifest["n_rows"]]

    def _lineage_force(c, df):
        rows = df.groupBy("table").agg(F.sum("n_rows").alias("n")).collect()
        return sorted([r["table"], int(r["n"])] for r in rows)

    steps = [
        Step("ingest.ingest", _ingest, _ingest_force),
        Step("spatial_join.pip_join", lambda c: pip_join(c["t"]["nodes"], c["polys"]), _pip_force),
        Step(
            "tiling.tile_assign_segments",
            lambda c: tile_assign_segments(refq.road_segments(c["t"])),
            lambda c, out: expect.spark_digest(
                out, [F.col(x) for x in ("way_idx", "zoom", "tile_x", "tile_y")]
            ),
        ),
        *[Step("catalog.append", _append(b), _append_force) for b in range(size["n_batches"])],
        Step(
            "catalog.read",
            lambda c: c["cat"].read("docs"),
            lambda c, df: expect.spark_digest(df, [F.crc32("doc_id"), F.size("spans")]),
        ),
        Step(
            "catalog.compact",
            lambda c: c["cat"].compact("docs"),
            lambda c, snap: [c["cat"].manifest("docs", snap)["n_rows"]],
        ),
        Step("catalog.lineage", lambda c: c["cat"].lineage(), _lineage_force),
    ]
    return Workload("docs_pip_tile", size, steps, expect.parquet_rows(paths["docs"]), paths), ctx


def docs_begin(spark, ctx: dict, pass_id: int) -> None:
    """Each pass starts from an empty warehouse."""
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog

    ctx["warehouse"] = os.path.join(ctx["work"], f"warehouse-{pass_id}")
    ctx["cat"] = SnapshotCatalog(spark, ctx["warehouse"])
    ctx["append_bytes"] = ctx["append_files"] = 0


def docs_end(ctx: dict) -> dict:
    """Release the pass's ingest caches and warehouse; return its write sizes."""
    from osmflat_rs_spark.ingest import unpersist_ingest

    if "t" in ctx:
        unpersist_ingest(ctx.pop("t"))
    stats = {"stored_bytes": dir_bytes(ctx["warehouse"]),
             "append_bytes": ctx["append_bytes"], "append_files": ctx["append_files"]}
    shutil.rmtree(ctx.pop("warehouse"), ignore_errors=True)
    return stats


def docs_expect(seed: int, size: dict, paths: dict) -> list:
    from osmflat_rs_spark.fixtures import generate_polygons

    return expect.docs_expectation(
        paths["docs"],
        [paths[f"batch{b}"] for b in range(size["n_batches"])],
        generate_polygons(seed=seed, n_poly=size["n_polys"]),
    )


# -------------------------------------------------------------- pair_joins
def pair_inputs(seed: int, size: dict) -> dict[str, pd.DataFrame]:
    """Seeded points (uniform over the fixtures' Berlin box), hexagon
    centres at constant overlap density, and text docs where every tenth
    doc is a near-duplicate of its predecessor."""
    from osmflat_rs_spark.fixtures import LAT_MAX, LAT_MIN, LON_MAX, LON_MIN

    rng = np.random.RandomState(seed)
    n = size["n_points"]
    points = pd.DataFrame({
        "node_idx": np.arange(n, dtype=np.int64),
        "lat": rng.randint(LAT_MIN, LAT_MAX, n).astype(np.int64),
        "lon": rng.randint(LON_MIN, LON_MAX, n).astype(np.int64),
    })
    # box area grows with n so expected partners per hexagon stay ~10
    # (run_poly_bench's 300 hexagons per 4e6 x 2e6 unit box)
    nh = size["n_hex"]
    s = (nh / 300) ** 0.5
    hexes = pd.DataFrame({
        "pid": np.arange(nh, dtype=np.int64),
        "cx": 100_000_000 + rng.randint(0, int(4_000_000 * s), nh).astype(np.int64),
        "cy": 500_000_000 + rng.randint(0, int(2_000_000 * s), nh).astype(np.int64),
    })
    nt = size["n_text"]
    words = rng.randint(0, 5000, (nt, 40))
    texts = []
    for i in range(nt):
        if i % 10 == 9:
            texts.append(" ".join(f"w{w}" for w in words[i - 1]) + f" zz{i % 97}")
        else:
            texts.append(" ".join(f"w{w}" for w in words[i]))
    return {"points": points, "hexes": hexes,
            "texts": pd.DataFrame({"doc_id": np.arange(nt, dtype=np.int64), "text": texts})}


def stage_pairs(seed: int, size: dict, out: str) -> dict:
    import pyarrow as pa

    inp = pair_inputs(seed, size)
    hexes = inp["hexes"]
    vertex = pa.struct([pa.field("lat", pa.int64()), pa.field("lon", pa.int64())])
    rings = pa.table({
        "pid": pa.array(hexes["pid"], pa.int64()),
        "ring": pa.array(
            [[{"lat": int(y + dy), "lon": int(x + dx)} for dx, dy in HEX]
             for x, y in zip(hexes["cx"], hexes["cy"])],
            pa.list_(vertex),
        ),
    })
    return {
        "points": _write(pa.Table.from_pandas(inp["points"], preserve_index=False), f"{out}/points"),
        "hexes": _write(rings, f"{out}/hexes"),
        "texts": _write(pa.Table.from_pandas(inp["texts"], preserve_index=False), f"{out}/texts"),
    }


def _queries(points, n_queries: int, n_points: int):
    from pyspark.sql import functions as F

    stride = max(1, n_points // n_queries)
    return points.filter(F.col("node_idx") % stride == 0).select(
        F.col("node_idx").cast("string").alias("query_id"), "lat", "lon"
    )


def pairs_workload(spark, seed: int, size: dict, paths: dict, work: str) -> tuple[Workload, dict]:
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.dedup import minhash_dedup
    from osmflat_rs_spark.operators.graph import boruvka_mst
    from osmflat_rs_spark.operators.knn import knn_join_bulk, radius_join
    from osmflat_rs_spark.operators.spatial_join import polygon_intersect_join

    points = spark.read.parquet(paths["points"])
    ctx = {
        "points": points,
        "queries": _queries(points, size["n_queries"], size["n_points"]),
        "hexes": spark.read.parquet(paths["hexes"]),
        "texts": spark.read.parquet(paths["texts"]),
    }

    def _radius_pairs(c):
        q = c["points"].select(F.col("node_idx").cast("string").alias("query_id"), "lat", "lon")
        return radius_join(c["points"], q, radius_m=float(size["radius"]), metric="sqeuclid")

    def _mst(c):
        # the q_emst_events shape: each undirected edge once (q < p)
        edges = _radius_pairs(c).filter(F.col("query_id").cast("long") < F.col("node_idx")).select(
            F.col("query_id").cast("long").alias("src"), F.col("node_idx").alias("dst"),
            F.col("dist_m").alias("w"),
        )
        return boruvka_mst(edges, dedup_edges=False)

    def _cols(*names):
        return lambda c, df: expect.spark_digest(df, [F.col(x) for x in names])

    def _minhash_force(c, df):
        d = expect.spark_digest(df, [F.col("id_a"), F.col("id_b"), (F.col("jaccard") * 1e9).cast("long")])
        c["minhash_pairs"] = d[0]
        return d

    steps = [
        Step(
            "knn.knn_join_bulk",
            lambda c: knn_join_bulk(c["points"], c["queries"], k=KNN_K,
                                    radius_m=float(size["knn_radius"]), metric="sqeuclid"),
            lambda c, df: expect.spark_digest(df, [F.crc32("query_id"), F.col("rank"), F.col("dist_m")]),
        ),
        Step("graph.boruvka_mst", _mst, _cols("u", "v", "w")),
        Step(
            "spatial_join.polygon_intersect_join",
            lambda c: polygon_intersect_join(c["hexes"], c["hexes"], id_a="pid", id_b="pid",
                                             res=14, self_join=True),
            lambda c, df: expect.spark_digest(df, [F.col(df.columns[0]), F.col(df.columns[1])]),
        ),
        Step("dedup.minhash_dedup",
             lambda c: minhash_dedup(c["texts"], "doc_id", "text", threshold=JACCARD),
             _minhash_force),
    ]
    n_input = size["n_points"] + size["n_hex"] + size["n_text"]
    return Workload("pair_joins", size, steps, n_input, paths), ctx


def pairs_expect(seed: int, size: dict, paths: dict) -> list:
    inp = pair_inputs(seed, size)
    pts = inp["points"]
    stride = max(1, size["n_points"] // size["n_queries"])
    q = pts[pts["node_idx"] % stride == 0]
    queries = pd.DataFrame({"query_id": q["node_idx"].astype(str), "lat": q["lat"], "lon": q["lon"]})
    rq, rp, rw = expect.radius_pairs_model(pts, size["radius"])
    return [
        expect.knn_model(pts, queries, KNN_K),
        expect.mst_model(rq, rp, rw),
        expect.hex_pairs_model(inp["hexes"], HEX),
        expect.minhash_model(inp["texts"], JACCARD),
    ]


def minhash_candidates(ctx: dict) -> int:
    """Rows of ``lsh_candidate_pairs`` on this run's texts (traced run only)."""
    from osmflat_rs_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    return lsh_candidate_pairs(minhash_signatures(ctx["texts"], "doc_id", "text")).count()


WORKLOADS = {
    "docs_pip_tile": {"stage": stage_docs, "build": docs_workload, "expect": docs_expect,
                      "begin": docs_begin, "end": docs_end},
    "pair_joins": {"stage": stage_pairs, "build": pairs_workload, "expect": pairs_expect,
                   "begin": lambda spark, ctx, pass_id: None, "end": lambda ctx: {}},
}
