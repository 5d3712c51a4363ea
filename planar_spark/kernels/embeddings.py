"""Embedding clustering + IVF approximate nearest neighbors.

The LSH-bucketed ANN (kernels/textops.embedding_ann_topk) covers the
hyperplane-hash scale path; this module adds the other standard one:
an IVF (inverted-file) index — spherical k-means coarse quantizer,
every vector assigned to its nearest centroid cell, and queries probe
only the ``n_probe`` nearest cells. Recall is tunable with n_probe
(probe all cells = exact), and the candidate join is a plain equi-join
on cell id — never an all-pairs crossJoin.

Scale shape:
- TRAINING runs on a deterministic sample (``sample_mod``): Lloyd's
  barrier per iteration is one k*dim driver collect (the centroid
  table — a few KB); the per-iteration assign is a broadcast of k
  centroid rows against the sample, never a shuffle of the vectors.
- ASSIGNMENT of the full corpus is one broadcast-join pass (k rows
  joined to N vectors, map-side).
- QUERY probes n_probe cells: candidates come from the cell equi-join,
  exact cosine reranks candidates only, and the top-k window partitions
  are bounded by the probed lists' size.

Everything is cosine: vectors and centroids are L2-normalized, so
nearest-by-dot == nearest-by-cosine (spherical k-means).

No reference analogue (the reference is a graph engine); this is part
of the LLM-training-data surface next to the LSH dedup/ANN stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from planar_spark.kernels.textops import _dot


def _normalize(col):
    nrm = F.sqrt(_dot(col, col))
    return F.transform(col, lambda x: x.cast("double") / nrm)


def _seed_centroids(vecs: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """Deterministic spread seeding: the k vectors with the smallest
    md5(vec_id) — pseudo-random, id-order independent, reproducible."""
    rows = (
        vecs.select("vec_id", "nv")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    return [(i, list(r["nv"])) for i, r in enumerate(rows)]


def _centroid_df(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    return spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cid int, cv array<double>"
    )


def _assign(vecs: DataFrame, cents_df: DataFrame) -> DataFrame:
    """(vec_id, nv, cid): nearest centroid by dot product (normalized
    both sides = cosine). Broadcast k rows; ties break to the LOWEST
    cid (struct max on (dot, -cid)) so assignment is deterministic."""
    scored = vecs.crossJoin(F.broadcast(cents_df)).select(
        "vec_id",
        "nv",
        F.struct(
            _dot(F.col("nv"), F.col("cv")).alias("dot"),
            (-F.col("cid")).alias("ncid"),
        ).alias("s"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max("s").alias("best"), F.first("nv").alias("nv"))
        .select("vec_id", "nv", (-F.col("best.ncid")).cast("int").alias("cid"))
    )


def kmeans_embeddings(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 8,
    sample_mod: int = 1,
    metrics_out: dict | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Spherical k-means. Returns (centroids, assignments).

    centroids: [(cid, unit vector)] — k*dim floats, driver-side by
    design (they are the broadcast side of every downstream join).
    assignments: (vec_id, cid) over the FULL input (training may run on
    the ``sample_mod`` sample; the final assign pass covers everything).
    Empty cells keep their previous centroid (standard Lloyd fallback).
    """
    spark = embeddings.sparkSession
    vecs = embeddings.select(
        "vec_id", _normalize(F.col("embedding")).alias("nv")
    ).persist()
    train = (
        vecs.where(F.col("vec_id") % sample_mod == 0)
        if sample_mod > 1
        else vecs
    )
    cents = _seed_centroids(train, k)
    dim = len(cents[0][1]) if cents else 0
    for _ in range(iters):
        assigned = _assign(train, _centroid_df(spark, cents))
        sums = (
            assigned.select("cid", F.posexplode("nv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"))
            .collect()
        )
        acc: dict[int, list[float]] = {}
        for r in sums:
            acc.setdefault(r["cid"], [0.0] * dim)[r["pos"]] = r["s"]
        new_cents = []
        for cid, old in cents:
            if cid in acc:
                raw = acc[cid]
                nrm = sum(x * x for x in raw) ** 0.5 or 1.0
                new_cents.append((cid, [x / nrm for x in raw]))
            else:
                new_cents.append((cid, old))  # empty cell: keep centroid
        cents = new_cents
    from planar_spark.graph.superstep import materialize

    # materialize BEFORE unpersisting vecs: the assignment is returned
    # lazy and referenced multiple times downstream (IVF candidate join
    # + rerank) — without this the broadcast assign pass would recompute
    # per reference over an uncached input
    assignments = materialize(
        _assign(vecs, _centroid_df(spark, cents))
        .select("vec_id", "cid")
    )
    if metrics_out is not None:
        sizes = assignments.groupBy("cid").count()
        metrics_out["cell_sizes"] = {
            int(r["cid"]): int(r["count"]) for r in sizes.collect()
        }
    vecs.unpersist()
    return cents, assignments


def embedding_ivf_topk(
    embeddings: DataFrame,
    query_mod: int = 100,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 8,
    sample_mod: int = 1,
) -> DataFrame:
    """(q, neighbor, sim) — IVF cosine top-k per query vector.

    Train the coarse quantizer, build the inverted lists (cell
    equi-join key), probe the ``n_probe`` nearest cells per query, and
    exact-rerank the probed candidates. n_probe == n_cells degenerates
    to exact search; recall@k vs the brute-force baseline is measured
    in bench alongside the LSH variant's.
    """
    spark = embeddings.sparkSession
    cents, assignments = kmeans_embeddings(
        embeddings, n_cells, kmeans_iters, sample_mod
    )
    cents_df = _centroid_df(spark, cents)
    e = embeddings.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        _normalize(F.col("embedding")).alias("nv"),
    ).join(assignments, "vec_id").persist()

    # per-query probed cells: top n_probe centroids by dot
    queries = e.where(F.col("vec_id") % query_mod == 0)
    wq = W.partitionBy("q").orderBy(F.col("cdot").desc(), F.col("cid").asc())
    probed = (
        queries.select(F.col("vec_id").alias("q"), "nv")
        .crossJoin(F.broadcast(cents_df))
        .select(
            "q", "cid", _dot(F.col("nv"), F.col("cv")).alias("cdot")
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probe)
        .select("q", "cid")
    )
    cand = (
        probed.join(
            e.select(F.col("vec_id").alias("neighbor"), "cid"), "cid"
        )
        .where(F.col("q") != F.col("neighbor"))
        .select("q", "neighbor")
    )
    qv = e.select(
        F.col("vec_id").alias("q"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    nv = e.select(F.col("vec_id").alias("neighbor"), "v", "nrm")
    sims = (
        cand.join(qv, "q")
        .join(nv, "neighbor")
        .select(
            "q",
            "neighbor",
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")),
                4,
            ).alias("sim"),
        )
    )
    # window partitions are bounded by the probed inverted lists, not N
    from planar_spark.graph.superstep import materialize

    w = W.partitionBy("q").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    # top-k results are small: materialize eagerly so unpersisting the
    # vector cache cannot force a 3x recompute of the assign pass when
    # the caller finally acts on the lazy plan
    out = materialize(
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q", "neighbor", "sim")
    )
    e.unpersist()
    return out
