"""Seeded benchmark inputs and their cached oracle answers.

Every input is a pure function of the seed. Graphs are generated
JVM-side from ``spark.range`` with ``xxhash64(id, seed, stream)`` mixing
(the same technique as ``planar_spark.ingest.synthetic``), so generation
is byte-deterministic at any parallelism. The pages table goes through
``planar_spark.ingest.pages.make_pages_pdf``.

``prepare_*`` writes the input as parquet under the cache directory and
computes the NumPy oracle answers once per (workload, seed). None of
this is timed; the timed set-up only reads the cached parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np

# Multiplier of the vertex-id permutation x -> (x * _PERM + off) mod n; a
# bijection on [0, n) whenever n is not a multiple of this prime.
_PERM = 48271
_UNIT = 1 << 30


def _hash(F, seed: int, stream: int, mod: int):
    return F.pmod(
        F.xxhash64(F.col("id"), F.lit(int(seed)), F.lit(int(stream))),
        F.lit(int(mod)),
    )


def _unit(F, seed: int, stream: int):
    return _hash(F, seed, stream, _UNIT).cast("double") / float(_UNIT)


def _permute(F, col, n: int, offset: int):
    if n % _PERM == 0:
        raise ValueError(f"vertex count {n} must not be a multiple of {_PERM}")
    return F.pmod(col * F.lit(_PERM) + F.lit(int(offset) % n), F.lit(int(n)))


def web_graph(spark, seed: int, vertices: int, edges: int, hub_links: int,
              parts: int):
    """(src, dst) power-law link graph plus one planted hub.

    Background links draw src from u^2 and dst from u^3 (both mapped
    through a seeded id permutation), so out- and in-degrees are skewed
    and the heavy vertices are scattered over the id range. The hub gets
    ``hub_links`` out-links on top, cycling over every vertex, so its
    out-degree (duplicate links count, as in ``GraphTables.degrees``) can
    pass ``hub_degree_threshold`` on a graph with fewer vertices than
    that. Self-loops are dropped.
    """
    from pyspark.sql import functions as F

    off = seed * 2654435761
    bg = spark.range(0, edges, 1, parts).select(
        _permute(F, F.floor(F.pow(_unit(F, seed, 1), 2.0) * vertices)
                 .cast("long"), vertices, off).alias("src"),
        _permute(F, F.floor(F.pow(_unit(F, seed, 2), 3.0) * vertices)
                 .cast("long"), vertices, off + 7).alias("dst"),
    )
    hub = hub_vertex(seed, vertices)
    hub_edges = spark.range(0, hub_links, 1, parts).select(
        F.lit(hub).cast("long").alias("src"),
        _permute(F, F.col("id") % vertices, vertices, off + 13).alias("dst"),
    )
    return bg.unionAll(hub_edges).where(F.col("src") != F.col("dst"))


def hub_vertex(seed: int, vertices: int) -> int:
    return (seed * 7919 + 12345) % vertices


def page_links(seed: int, pages: int, anchors: int) -> np.ndarray:
    """(src, dst) page-id pairs: ``anchors`` out-links per page, targets
    power-law (u^3) through a seeded permutation. May hold duplicate and
    self links, as crawled pages do."""
    rng = np.random.default_rng(seed)
    src = np.repeat(np.arange(pages, dtype=np.int64), anchors)
    raw = np.floor(rng.random(pages * anchors) ** 3 * pages).astype(np.int64)
    dst = (raw * _PERM + seed * 2654435761) % pages
    return np.stack([src, dst], axis=1)


def sorted_edges(edges: np.ndarray) -> np.ndarray:
    """Rows in (src, dst) order, so equal multisets give equal bytes."""
    edges = np.asarray(edges, dtype=np.int64).reshape(-1, 2)
    return edges[np.lexsort((edges[:, 1], edges[:, 0]))]


def edge_hash(edges: np.ndarray) -> str:
    return hashlib.sha256(
        np.ascontiguousarray(sorted_edges(edges)).tobytes()
    ).hexdigest()


def dictionary_ids(urls: list[str]) -> np.ndarray:
    """vid of each url under the lexicographic dense remap that
    ``planar_spark.ingest.build.dictionary_encode`` specifies."""
    order = sorted(range(len(urls)), key=urls.__getitem__)
    vid = np.empty(len(urls), dtype=np.int64)
    vid[np.asarray(order, dtype=np.int64)] = np.arange(len(urls))
    return vid


# ------------------------------------------------------------------ cache

def read_edges(path: Path) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(str(path), columns=["src", "dst"])
    return np.stack(
        [t.column("src").to_numpy(), t.column("dst").to_numpy()], axis=1
    ).astype(np.int64)


class InputCache:
    """One directory per (workload, seed, sizes): input parquet, oracle
    arrays and a ``meta.json`` written last, so a half-written entry is
    redone."""

    def __init__(self, root: Path, workload: str, seed: int, sizes: dict):
        digest = hashlib.sha256(
            json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:12]
        self.dir = Path(root) / f"{workload}-s{seed}-{digest}"

    @property
    def ready(self) -> bool:
        return (self.dir / "meta.json").exists()

    def reset(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)

    def path(self, name: str) -> str:
        return str(self.dir / name)

    def save(self, meta: dict, **arrays: np.ndarray) -> None:
        np.savez(self.dir / "oracle.npz", **arrays)
        tmp = self.dir / "meta.json.tmp"
        tmp.write_text(json.dumps(meta))
        os.replace(tmp, self.dir / "meta.json")

    def load(self) -> tuple[dict, dict]:
        meta = json.loads((self.dir / "meta.json").read_text())
        with np.load(self.dir / "oracle.npz") as z:
            arrays = {k: z[k] for k in z.files}
        return meta, arrays


def prepare_graph(spark, cache: InputCache, edges_df, vertices: int,
                  oracles: dict) -> tuple[dict, dict]:
    """Write ``edges_df`` to the cache and evaluate ``oracles`` on it:
    ``{name: fn(edges ndarray, num_vertices) -> ndarray or int}``."""
    if not cache.ready:
        cache.reset()
        edges_df.write.parquet(cache.path("edges"))
        e = read_edges(Path(cache.path("edges")))
        arrays = {k: np.asarray(fn(e, vertices)) for k, fn in oracles.items()}
        cache.save({"vertices": vertices, "edges": int(len(e))}, **arrays)
    return cache.load()


def prepare_pages(spark, cache: InputCache, seed: int, pages: int,
                  anchors: int, hosts: int, oracles: dict) -> tuple[dict, dict]:
    """Pages parquet, the expected dictionary-encoded edge set, and
    ``oracles`` evaluated on it (as in ``prepare_graph``)."""
    from planar_spark.ingest.pages import make_pages_pdf, url_of

    if not cache.ready:
        cache.reset()
        links = page_links(seed, pages, anchors)
        pdf = make_pages_pdf(links, pages, n_sites=hosts)
        schema = ("url string, warc_ts timestamp, html binary, text string, "
                  "lang string")
        spark.createDataFrame(pdf, schema=schema).write.parquet(
            cache.path("pages"))
        vid = dictionary_ids([url_of(v, hosts) for v in range(pages)])
        enc = vid[links]
        enc = enc[enc[:, 0] != enc[:, 1]]
        arrays = {k: np.asarray(fn(enc, pages)) for k, fn in oracles.items()}
        cache.save(
            {"vertices": pages, "edges": int(len(enc)),
             "edge_hash": edge_hash(enc)},
            **arrays,
        )
    return cache.load()
