"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k, JVM-side arithmetic
  (zip_with/aggregate — no UDF, no Python in the hot path). The
  queries side is small and broadcast; the corpus never shuffles.
- ``lsh_buckets`` / ``lsh_topk``: random-hyperplane LSH — the scale
  path. Planes are derived deterministically from a seed; each vector
  lands in 2^n_planes buckets per table; queries probe only their own
  bucket, cutting the candidate set by ~2^n_planes.

At 100 TB the corpus is bucketed once (write-side, partitioned by
bucket id) and each query touches |corpus| / 2^n_planes rows — an IVF
coarse quantizer has the same shape (bucket = nearest centroid).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlpp_spark.ops import ensure_parallelism
from sqlpp_spark.ops.dedup import cosine_sim
from sqlpp_spark.session import own


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query (cosine). queries ⋈ corpus with
    the small side broadcast; row_number window bounded per query."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id", cosine_sim(F.col("qv"), F.col("cv")).alias("cos")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", F.col("rank").cast("bigint").alias("rank"))
    )


def _planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy dependency in
    the executor path — plain Python floats baked into the plan as
    literals)."""
    vals = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            # xorshift64* PRNG — reproducible across platforms
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            u = ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) >> 11
            row.append(u / float(1 << 53) * 2.0 - 1.0)
        vals.append(row)
    return vals


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-concatenation bucket id: bit i = (vec · plane_i) > 0."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(p) for p in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_buckets(
    df: DataFrame, dim: int, n_planes: int = 6, seed: int = 42,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    planes = _planes(n_planes, dim, seed)
    return df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket_col(F.col(vec_col), planes).alias("bucket")
    )


def jl_project(
    df: DataFrame, out_dim: int = 16, dim: int = 64, seed: int = 7,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: each output component
    is ``(vec · plane_j) / sqrt(out_dim)`` with the deterministic
    xorshift hyperplanes (``_planes``) baked into the plan as literals
    — pure JVM ``zip_with``/``aggregate`` arithmetic, no UDF, no
    shuffle. Distances are preserved within ~1/sqrt(out_dim) relative
    error (JL lemma), so a 64→16 projection cuts per-comparison cost
    4× while candidate ranking stays accurate enough for a shortlist.
    Output: (id, vec, proj). The projection is bit-reproducible in
    DuckDB (list_inner_product folds in the same element order), so
    downstream shortlists stay oracle-checkable."""
    planes = _planes(out_dim, dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    comps = []
    for plane in planes:
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(p) for p in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        comps.append(dot * F.lit(scale))
    return df.select(
        F.col(id_col), F.col(vec_col), F.array(*comps).alias("proj")
    )


def projected_rerank_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, shortlist: int = 150,
    out_dim: int = 32, dim: int = 64, seed: int = 7,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage retrieval: rank ALL candidates by cosine in the
    ``out_dim``-dimensional JL projection (cheap — 4× fewer multiplies
    at 64→16), keep a ``shortlist`` per query, then re-score ONLY the
    shortlist with exact full-dimension cosine and emit the top-k.

    The standard recall/cost dial of production vector search
    (shortlist ≫ k recovers near-exact recall; shortlist = corpus is
    exact). Both stages are deterministic — projected ties break on
    cand_id — so the whole operator is oracle-checkable, unlike
    sampling-based ANN. At 100 TB, stage 1 composes with the IVF/LSH
    bucketing (project the bucketed candidates, not the full corpus)."""
    pc = jl_project(
        ensure_parallelism(corpus), out_dim, dim, seed, vec_col, id_col
    ).select(F.col(id_col).alias("cand_id"), F.col("proj").alias("cp"))
    pq = jl_project(queries, out_dim, dim, seed, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col("proj").alias("qp")
    )
    # stage 1 window moves (query_id, cand_id, pcos) ONLY — full
    # vectors stay out of the shuffle; the shortlist is queries×S rows
    # (broadcast-sized), so the rescore fetches vectors with zero
    # corpus-side shuffle
    s1 = (
        pc.crossJoin(F.broadcast(pq))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id",
            cosine_sim(F.col("qp"), F.col("cp")).alias("pcos"),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cand_id"))
    short = (
        s1.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= shortlist)
        .select("query_id", "cand_id")
    )
    cvecs = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    rescored = (
        cvecs.join(F.broadcast(short), on="cand_id")
        .join(F.broadcast(qvecs), on="query_id")
        .select(
            "query_id", "cand_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def ivf_index(
    corpus: DataFrame, n_cells: int = 16, seed: int = 42,
    vec_col: str = "embedding", id_col: str = "vec_id",
):
    """IVF coarse quantizer: KMeans centroids over the corpus; every
    vector is assigned to its nearest cell. Returns (assigned_corpus
    with a ``cell`` column, centroids as a python list).

    At 100 TB: fit on a sample (KMeans cost is O(sample × cells)),
    assign in one codegen'd pass, and WRITE the corpus partitioned by
    cell — queries then touch only n_probe / n_cells of the data.
    Centroids are tiny (cells × dim floats) and ship as plan literals.
    """
    centroids = ivf_centroids(corpus, n_cells, seed, vec_col)
    if len(centroids) > CELL_EXPR_MAX:
        assigned = _with_probe_cells(
            corpus, vec_col, centroids, None, 1, "__probe1"
        ).withColumn("cell", F.element_at("__probe1", 1)).drop("__probe1")
    else:
        assigned = corpus.withColumn(
            "cell", _nearest_cells(F.col(vec_col), centroids, 1)[0]
        )
    return assigned, centroids


def ivf_centroids(
    corpus: DataFrame, n_cells: int = 16, seed: int = 42,
    vec_col: str = "embedding",
) -> list:
    """KMeans centroids only — callers that never use the assignment
    (knn_graph builds its own probe columns) skip the O(k·dim)
    assignment-expression construction entirely."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(array_to_vector(F.col(vec_col).cast("array<float>")).alias("features"))
    model = KMeans(k=n_cells, seed=seed, initMode="k-means||").fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _nearest_cells(
    vec: Column, centroids: list, n_probe: int, cell_ids: list | None = None
) -> Column:
    """Array of the n_probe nearest centroid ids by squared L2 —
    computed JVM-side from centroid literals (no UDF, no shuffle).
    ``cell_ids`` overrides the default 0..k-1 cell labels (the pivot
    quantizer labels cells by pivot row id so the DuckDB oracle can
    reproduce them)."""
    ids = cell_ids if cell_ids is not None else list(range(len(centroids)))
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(int(ids[i])).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.slice(F.array_sort(dists), 1, n_probe)
    return F.transform(ranked, lambda s: s["cell"])


# Above this cell count the centroid literals leave the expression
# tree: a k-wide array-of-structs expression costs O(k) codegen per
# query and is impossible at the √n rule's real-scale k (≈31k cells at
# 10⁹ vectors). The column path ships the centroids as ONE broadcast
# row instead — expression size O(1), identical float math (same
# zip_with/aggregate chain, same (dist, cell) array_sort tie-break),
# so results are bit-equal to the literal path (pinned in
# tests/test_ops.py).
CELL_EXPR_MAX = 32


def _with_probe_cells_numpy(
    df: DataFrame, vec_col: str, centroids: list, ids: list,
    n_probe: int, out_col: str,
) -> DataFrame:
    """Arrow-batched numpy nearest-cells kernel (see _with_probe_cells
    docstring for the bit-equality argument). Sorts the (id, centroid)
    pairs by cell id first so the stable argsort tie-break equals the
    (dist, cell) struct sort regardless of caller order."""
    import numpy as np  # noqa: F401 — import error triggers fallback
    import pandas as pd  # noqa: F401

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ids_sorted = [int(ids[i]) for i in order]
    cents_sorted = [[float(x) for x in centroids[i]] for i in order]
    in_cols = list(df.columns)
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(LongType()), True)]
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents_sorted, dtype=np.float64)  # k × dim
        id_arr = np.asarray(ids_sorted, dtype=np.int64)
        k, dim = C.shape
        # cap the n×k distance matrix at ~32 MB per chunk
        chunk = max(1, (1 << 22) // max(k, 1))
        for pdf in batches:
            vs = pdf[vec_col]
            notnull = vs.notna().to_numpy()
            # NULL vector parity with the HOF path: every distance is
            # NULL, the (dist, cell) struct sort puts NULL distances
            # first, ties break by ascending cell — i.e. the first
            # n_probe cell ids (pinned in test_ops)
            null_probes = [int(c) for c in ids_sorted[:n_probe]]
            probes: list = [
                None if nn else list(null_probes) for nn in notnull
            ]
            idx = np.flatnonzero(notnull)
            for s in range(0, len(idx), chunk):
                sel = idx[s : s + chunk]
                V = np.asarray(
                    [np.asarray(vs.iat[i], dtype=np.float64) for i in sel]
                )
                # dim-by-dim left fold, vectorized across (rows, cells):
                # the exact op sequence of the HOF path — (v_j - c_j)
                # squared in double, then acc + sq, j ascending
                acc = np.zeros((len(sel), k))
                for j in range(dim):
                    d = V[:, j][:, None] - C[:, j][None, :]
                    acc = acc + d * d
                # stable argsort over distances with cells ascending ==
                # array_sort((dist, cell)) tie-break
                top = np.argsort(acc, axis=1, kind="stable")[:, :n_probe]
                cells = id_arr[top]
                for row_i, row_cells in zip(sel, cells):
                    probes[row_i] = row_cells.tolist()
            out = pdf.copy()
            out[out_col] = probes
            yield out

    return df.select(*in_cols).mapInPandas(assign, schema)


def _with_probe_cells(
    df: DataFrame, vec_col: str, centroids: list, cell_ids: list | None,
    n_probe: int, out_col: str,
) -> DataFrame:
    """Nearest-cells assignment for √n-grown cell counts.

    r19 opt (guide §4.2): the default path is an Arrow-batched numpy
    kernel — the per-row fold over ALL k centroids was the measured
    hot spot of the auto kNN graph (interpreted higher-order-function
    evaluation, ~1.1 s of the 1.4 s row at sf0.1; at the √n rule's
    real-scale k≈31k cells per 10⁹ vectors an interpreted fold is
    impractical, while a batched numpy distance kernel is the standard
    production shape). Bit-equality with the HOF/oracle arithmetic is
    preserved by construction and pinned in tests/test_ops.py:

    - accumulation runs dim-by-dim in the SAME left-fold order
      (vectorized across rows, sequential across dims), each step the
      same IEEE double ops: (cast - c_j) squared, then acc + sq;
    - ranking is a STABLE argsort over the distances with the
      centroid list in ascending cell-id order — identical to the
      array_sort((dist, cell)) tie-break.

    ``spark.sqlpp.ann.pythonProbes=false`` falls back to the previous
    pure-JVM broadcast-crossJoin + HOF path (kept for Spark Connect
    sessions and as the equality reference)."""
    ids = cell_ids if cell_ids is not None else list(range(len(centroids)))
    use_numpy = True
    try:
        use_numpy = (
            df.sparkSession.conf.get(
                "spark.sqlpp.ann.pythonProbes", "true"
            ).lower() == "true"
        )
    except Exception:
        pass
    if use_numpy:
        try:
            return _with_probe_cells_numpy(
                df, vec_col, centroids, ids, n_probe, out_col
            )
        except ImportError:  # numpy/pandas unavailable: JVM fallback
            pass
    cells = [(int(i), [float(x) for x in c]) for i, c in zip(ids, centroids)]
    spark = df.sparkSession
    cf = F.broadcast(spark.createDataFrame(
        [(cells,)], "__cells array<struct<cell:bigint,cv:array<double>>>"
    ))
    vec = F.col(vec_col)
    dists = F.transform(
        F.col("__cells"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    vec, c["cv"],
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            c["cell"].alias("cell"),
        ),
    )
    probes = F.transform(
        F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
    )
    return df.crossJoin(cf).withColumn(out_col, probes).drop("__cells")


def _pair_cosine_numpy(
    pairs: DataFrame, a_col: str, b_col: str, out_col: str,
) -> DataFrame:
    """Arrow-batched cosine for (query, candidate) vector pairs — the
    numpy twin of ``cosine_sim`` with the identical IEEE op sequence:
    three dim-ascending left folds (dot, |a|², |b|²), correctly-rounded
    sqrt, one division. Bit-equality pinned in tests/test_ops.py. The
    pair stage is the other n^1.5-growth fold of the kNN graph (pairs
    ≈ n·n_probe·cell_size, each an interpreted dim-fold on the HOF
    path)."""
    import numpy as np  # noqa: F401 — ImportError triggers caller fallback
    import pandas as pd  # noqa: F401

    from pyspark.sql.types import DoubleType, StructField, StructType

    keep = [c for c in pairs.columns if c not in (a_col, b_col)]
    schema = StructType(
        [pairs.schema[c] for c in keep]
        + [StructField(out_col, DoubleType(), True)]
    )

    def cos(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                out = pdf[keep].copy()
                out[out_col] = np.array([], dtype=np.float64)
                yield out
                continue
            A = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[a_col]]
            )
            B = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[b_col]]
            )
            n = A.shape[0]
            dot = np.zeros(n)
            sa = np.zeros(n)
            sb = np.zeros(n)
            for j in range(A.shape[1]):
                x, y = A[:, j], B[:, j]
                dot = dot + x * y
                sa = sa + x * x
                sb = sb + y * y
            out = pdf[keep].copy()
            out[out_col] = dot / (np.sqrt(sa) * np.sqrt(sb))
            yield out

    return pairs.mapInPandas(cos, schema)


def pivot_centroids(
    corpus: DataFrame, n_cells: int = 16,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> tuple[list, list]:
    """Deterministic IVF coarse quantizer: the cells are the
    embeddings of the ``n_cells`` smallest row ids (sampled-point
    initialization, as in IVF-Flat with random init — but with a
    DETERMINISTIC sample so the DuckDB oracle can re-derive the exact
    centroids from the table). Returns (centroids, cell_ids); cells
    are labeled by pivot row id.

    At 100 TB the collect is k rows of k×dim floats — plan literals,
    same shipping story as the KMeans centroids."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    centroids = [[float(x) for x in r[1]] for r in rows]
    cell_ids = [int(r[0]) for r in rows]
    return centroids, cell_ids


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_cells: int = 16,
    n_probe: int = 4, seed: int = 42,
    vec_col: str = "embedding", id_col: str = "vec_id",
    quantizer: str = "kmeans",
) -> DataFrame:
    """Approximate top-k via IVF: score only corpus vectors whose cell
    is among the query's n_probe nearest cells — cost drops from
    |corpus| to ~|corpus| × n_probe / n_cells per query. Recall is
    tunable via n_probe (n_probe = n_cells ⇒ exact).

    ``quantizer``: "kmeans" (default, best cells) or "pivot"
    (deterministic sampled-point cells — bit-reproducible in SQL, the
    oracle-checkable variant; same plan shape and scale behavior)."""
    if quantizer == "pivot":
        centroids, cell_ids = pivot_centroids(corpus, n_cells, vec_col, id_col)
        assigned = corpus.withColumn(
            "cell", _nearest_cells(F.col(vec_col), centroids, 1, cell_ids)[0]
        )
    else:
        assigned, centroids = ivf_index(corpus, n_cells, seed, vec_col, id_col)
        cell_ids = None
    c = assigned.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cell"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            _nearest_cells(F.col(vec_col), centroids, n_probe, cell_ids)
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cosine_sim(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", F.col("rank").cast("bigint").alias("rank"))
    )


def lsh_near_duplicate_pairs(
    df: DataFrame, dim: int, threshold: float = 0.95, n_planes: int = 4,
    n_tables: int = 2, seed: int = 42,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH bucketing —
    the scale path for ``dedup.embedding_near_duplicates``: only
    same-bucket pairs (per table) are scored, so the candidate set is
    ~|corpus|²/2^n_planes per table instead of |corpus|². Multi-table
    union recovers pairs a single table's buckets split. High-cosine
    pairs collide with probability (1 - θ/π)^n_planes per table, so
    recall on ≥0.95-cosine pairs is high by construction."""
    df = ensure_parallelism(df)
    parts = []
    for t in range(n_tables):
        bt = lsh_buckets(df, dim, n_planes, seed + 1000 * t, vec_col, id_col)
        parts.append(bt.select(id_col, vec_col, F.lit(t).alias("tbl"), "bucket"))
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "tbl", "bucket"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "tbl", "bucket"
    )
    cands = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.select("id_a", "id_b", cosine_sim(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
    n_planes: int = 6, seed: int = 42, n_tables: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: only same-bucket candidates are scored.
    Recall tuning: fewer planes → bigger buckets → higher recall &
    more compute; ``n_tables`` independent hash tables union their
    candidate sets (standard multi-table LSH), recall ≈
    1-(1-r_single)^n_tables. Each vector appears once per table, so
    cost scales linearly in n_tables while staying far below the
    brute-force cross join."""

    def _tables(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        parts = []
        for t in range(n_tables):
            bt = lsh_buckets(df, dim, n_planes, seed + 1000 * t, vec_col, id_col)
            parts.append(
                bt.select(
                    F.col(id_col).alias(out_id),
                    F.col(vec_col).alias(out_vec),
                    F.lit(t).alias("tbl"),
                    "bucket",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    cb = _tables(corpus, "cand_id", "cv")
    qb = _tables(queries, "query_id", "qv")
    cand = (
        cb.join(F.broadcast(qb), on=["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "qv", "cand_id", "cv")
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cand.select(
        "query_id", "cand_id", cosine_sim(F.col("qv"), F.col("cv")).alias("cos")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", F.col("rank").cast("bigint").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Scalar quantization (int8) — compressed similarity search
# ---------------------------------------------------------------------------


def corpus_scale(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Single-row frame with the symmetric max-abs quantization scale
    of ``vec_col`` (column ``__scale``). One narrow agg over just the
    vector column — at 100 TB this is a cheap columnar pass (or run it
    on a sample; max-abs only needs the tail), and the result is a
    one-row broadcast, never a driver collect in the query plan."""
    return df.agg(
        F.max(
            F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
        ).alias("__scale")
    )


def quantize_col(vec: Column, scale: Column, qmax: int = 127) -> Column:
    """Symmetric scalar quantization to [-qmax, qmax]: round-half-up
    via floor(x·qmax/scale + 0.5) — spelled identically in the DuckDB
    oracle so both engines hit the same integers (plain IEEE mult/div/
    floor, no platform-dependent rounding mode). Max-abs scaling means
    no clamp is needed."""
    return F.transform(
        vec,
        lambda x: F.floor(
            x.cast("double") * F.lit(float(qmax)) / scale + F.lit(0.5)
        ).cast("int"),
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    qmax: int = 127,
) -> DataFrame:
    """(id, qvec, scale): int8-range quantized vectors, 4× smaller than
    float32 at rest. At 100 TB the quantized corpus is written ONCE and
    all candidate scoring runs on integer dot products (exact in both
    engines — every partial sum is < 2^53)."""
    sc = corpus_scale(df, vec_col)
    return df.crossJoin(F.broadcast(sc)).select(
        F.col(id_col),
        quantize_col(F.col(vec_col), F.col("__scale"), qmax).alias("qvec"),
        F.col("__scale").alias("scale"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (bigint accumulation, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over quantized vectors: integer dot / product of sqrt'd
    integer norms. The only float ops are two sqrts and one divide in a
    fixed order — bit-deterministic across engines."""
    dot = _int_dot(qa, qb)
    na = F.sqrt(_int_dot(qa, qa).cast("double"))
    nb = F.sqrt(_int_dot(qb, qb).cast("double"))
    return dot.cast("double") / (na * nb)


def quantized_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id", qmax: int = 127,
) -> DataFrame:
    """Approximate top-k over int8-quantized vectors: the compressed
    analog of ``brute_force_topk``. Queries quantize with the CORPUS
    scale (the stored index's scale at 100 TB), broadcast, and score
    against the quantized corpus — a scan of int arrays at 1/4 the
    bytes of the float corpus, with exact integer arithmetic until the
    final two sqrts. Compose with LSH/IVF bucketing for sublinear
    candidate sets; this operator is the in-bucket scorer."""
    sc = corpus_scale(corpus, vec_col)
    c = ensure_parallelism(corpus).crossJoin(F.broadcast(sc)).select(
        F.col(id_col).alias("cand_id"),
        quantize_col(F.col(vec_col), F.col("__scale"), qmax).alias("qc"),
    )
    q = queries.crossJoin(F.broadcast(sc)).select(
        F.col(id_col).alias("query_id"),
        quantize_col(F.col(vec_col), F.col("__scale"), qmax).alias("qq"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id",
            quantized_cosine(F.col("qq"), F.col("qc")).alias("qcos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "qcos", F.col("rank").cast("bigint").alias("rank"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via coarse-quantizer cells
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    corpus: DataFrame, n_cells: int = 16, threshold: float = 0.4,
    vec_col: str = "embedding", id_col: str = "vec_id",
    quantizer: str = "pivot", seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with a
    coarse quantizer, then find near-duplicate pairs ONLY within each
    cell — the cluster step bounds the quadratic: with k cells the
    candidate volume is ~Σ|cell|² ≈ n²/k instead of n², and each cell's
    pair join is an equi-join on ``cell`` (shuffle-partitionable), never
    a global nested loop. At 100 TB: fit the quantizer on a sample,
    write the corpus partitioned by cell, and each cell's pairs job
    reads one partition.

    ``quantizer="pivot"`` (deterministic sampled-point cells) is
    bit-reproducible in SQL — the driver oracle replays it;
    ``"kmeans"`` gives better cells and is the production default for
    real corpora (same plan shape).

    Returns (cell, id_a, id_b, cos) pairs with cos ≥ threshold.
    The persisted input is ``own``-ed by the caller's
    ``query_scope``."""
    from pyspark import StorageLevel

    if quantizer == "pivot":
        centroids, cell_ids = pivot_centroids(corpus, n_cells, vec_col, id_col)
    else:
        _, centroids = ivf_index(corpus, n_cells, seed, vec_col, id_col)
        cell_ids = None
    assigned = own(corpus.select(
        F.col(id_col), F.col(vec_col),
        _nearest_cells(F.col(vec_col), centroids, 1, cell_ids)[0].alias("cell"),
    ).persist(StorageLevel.MEMORY_AND_DISK))
    assigned.count()  # eager: both join sides read it
    a = assigned.select(
        F.col("cell"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = assigned.select(
        F.col("cell"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell", "id_a", "id_b",
            cosine_sim(F.col("va"), F.col("vb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training pairs
# ---------------------------------------------------------------------------


def hard_negative_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per query: the k most-similar corpus vectors with a DIFFERENT
    label — the classic hard-negative miner for contrastive /
    embedding training (high-similarity, wrong-class examples). Same
    plan as brute_force_topk (broadcast queries, corpus never
    shuffles, bounded per-query window); swap in lsh/ivf candidates at
    scale exactly as for ANN."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"),
        F.col(label_col).alias("c_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("query_id") != F.col("cand_id"))
            & (F.col("q_label") != F.col("c_label"))
        )
        .select(
            "query_id", "cand_id", "c_label",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "c_label", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def knn_graph(
    corpus: DataFrame, k: int = 5, n_cells: int | str = 16, n_probe: int = 2,
    seed: int = 42, vec_col: str = "embedding", id_col: str = "vec_id",
    quantizer: str = "kmeans", persist_probes: bool = True,
) -> DataFrame:
    """k-nearest-neighbor GRAPH of the corpus with itself — the
    building block for graph-based curation: SemDeDup-style cluster
    pruning, embedding label propagation, kNN density/outlier scoring.

    Unlike ``ivf_topk`` (whose query side broadcasts), BOTH sides here
    are the full corpus, so candidates meet through a cell EQUI-JOIN:
    every vector is assigned its nearest cell, probes its ``n_probe``
    nearest cells, and the join co-partitions both sides on the cell
    id. Pairwise work drops from n² to ~n²·n_probe/n_cells, nothing
    broadcasts, and the shuffle payload is (cell, id, vector) rows —
    the formulation that scales out with executors. Grow ``n_cells``
    ~√n so each cell stays executor-sized; recall is tunable via
    ``n_probe`` (= n_cells ⇒ exact graph).

    ``n_cells="auto"`` sets ``max(16, ⌊√n + 0.5⌋)`` from one cheap
    ``count()`` (metadata-scale driver action) — the √n rule that
    keeps total pairwise work at O(n^1.5·n_probe) as the corpus
    grows. The 10× rehearsal (SCALING.md) measured the failure mode
    this prevents: fixed cells left shuffle linear but wall 20.5× at
    10× data; grown cells restored ~linear wall growth.

    Returns (query_id, cand_id, cos, rank), rank 1..k per query.
    """
    if n_cells == "auto":
        # floor(√n + 0.5), not round(): tie-free, so the DuckDB oracle's
        # FLOOR(SQRT(n) + 0.5) agrees unconditionally — round() is
        # half-even while SQL ROUND is half-away, and although √n of an
        # integer is never exactly .5, the correctly-rounded DOUBLE
        # result can land on x.5 and make the engines differ by 1 cell
        n_cells = max(16, int(corpus.count() ** 0.5 + 0.5))
    if quantizer == "pivot":
        centroids, cell_ids = pivot_centroids(corpus, n_cells, vec_col, id_col)
    else:
        centroids = ivf_centroids(corpus, n_cells, seed, vec_col)
        cell_ids = None
    corpus = ensure_parallelism(corpus)
    base = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    )
    if len(centroids) > CELL_EXPR_MAX:
        # √n-grown cell counts: centroids ride a broadcast column, not
        # the expression tree (see CELL_EXPR_MAX) — bit-equal results
        probed = _with_probe_cells(base, "v", centroids, cell_ids,
                                   n_probe, "__probes")
    else:
        probed = base.withColumn(
            "__probes",
            _nearest_cells(F.col("v"), centroids, n_probe, cell_ids),
        )
    # r11: BOTH join sides derive from `probed`; unpersisted, each
    # branch re-executed the per-row distance fold over every centroid
    # (the dominant per-row cost — 2× at k cells). Persist + eager
    # count so the fold runs once; released by the caller's query_scope.
    # element_at(probes, 1) on the shared array is the same nearest
    # cell the candidate side used to compute separately (identical
    # (dist, cell) array_sort tie-break), so results are unchanged.
    #
    # r12 persist policy (measured, SCALING_REHEARSAL_MM.json
    # "knn_persist_crossover"): MEMORY_AND_DISK is the universal
    # choice. The cached frame is (id, vector, n_probe ints) — barely
    # larger than the input corpus, i.e. bytes the shuffle moves
    # anyway — while the avoided recompute is the per-row fold over
    # ALL √n centroids, which GROWS with corpus size. The rehearsal
    # measured persist-off ~2.4× slower at BOTH rungs (sf0.1: 2.72 vs
    # 6.66 s; 10×: 12.5 vs 30.5 s) with the cache at 0.5 / 5.3 MB —
    # the ratio holds as data grows because cache bytes and fold cost
    # scale together. There is no crossover to size-toggle against,
    # so ``persist_probes=False`` exists only for measurement (the
    # rehearsal uses it), not as a tuning knob.
    if persist_probes:
        from pyspark import StorageLevel

        probed = own(probed.persist(StorageLevel.MEMORY_AND_DISK))
        probed.count()
    c = probed.select(
        F.col("vid").alias("cand_id"), F.col("v").alias("cv"),
        F.element_at("__probes", 1).alias("cell"),
    )
    q = probed.select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv"),
        F.explode("__probes").alias("cell"),
    )
    # r19 opt (guide §4.2): the per-pair cosine is the other fold that
    # grows n^1.5 under the √n rule (pairs ≈ n·n_probe·cell_size); the
    # default path hands Arrow batches of the joined pairs to the
    # numpy twin of cosine_sim (bit-equal op sequence, pinned).
    # spark.sqlpp.ann.pythonCosine=false keeps the pure-JVM HOF path.
    pairs = (
        q.join(c, on="cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "qv", "cv")
    )
    use_py_cos = True
    try:
        use_py_cos = (
            corpus.sparkSession.conf.get(
                "spark.sqlpp.ann.pythonCosine", "true"
            ).lower() == "true"
        )
    except Exception:
        pass
    scored = None
    if use_py_cos:
        try:
            scored = _pair_cosine_numpy(pairs, "qv", "cv", "cos")
        except ImportError:
            scored = None
    if scored is None:
        scored = pairs.select(
            "query_id", "cand_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos"),
        )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
    return out


def knn_density(
    corpus: DataFrame, k: int = 5, n_cells: int = 16, n_probe: int = 2,
    seed: int = 42, vec_col: str = "embedding", id_col: str = "vec_id",
    quantizer: str = "kmeans",
) -> DataFrame:
    """Per-vector kNN density: mean cosine to the k nearest neighbors
    (from ``knn_graph``). Low density ⇒ isolated point (noise/outlier
    candidate); high density ⇒ redundancy hotspot (prune first) — the
    prototype-pruning signal SemDeDup/SSL-curation methods rank by.
    The mean is an exact decimal sum of ROUND(cos, 9) values divided
    once, so it is order-independent and bit-equal across engines.

    Returns (id_col, n_neighbors, density).
    """
    g = knn_graph(
        corpus, k, n_cells, n_probe, seed, vec_col, id_col, quantizer
    )
    return g.groupBy(F.col("query_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        (
            F.sum(F.round(F.col("cos"), 9).cast("decimal(20,9)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("density"),
    )


def label_centroid_outliers(
    emb: DataFrame, top_n: int = 10, vec_col: str = "embedding",
    id_col: str = "vec_id", label_col: str = "label",
) -> DataFrame:
    """Noisy-label candidate mining: each label's centroid, then every
    vector's squared L2 distance to its OWN label's centroid, ranked
    descending per label — the farthest members are the mislabeled /
    out-of-distribution suspects (the confident-learning-style signal,
    computed geometrically).

    Determinism: per-dimension centroid sums are exact decimals over
    ROUND(v_i, 9) (order-independent), divided once to doubles; the
    distance folds dimensions sequentially (left-associated), so DuckDB
    replays it bit-equally with an explicit chain. Scale: the explode
    shuffles (label, pos, 8-byte value) rows once; centroids are a
    labels×dim table (tiny, broadcast); the corpus itself never
    shuffles.

    Returns (id_col, label_col, d2, rank) for rank ≤ top_n.
    """
    ex = emb.select(
        F.col(label_col).alias("__lbl"),
        F.posexplode(F.col(vec_col)).alias("pos", "__v"),
    ).select(
        "__lbl", "pos",
        F.round(F.col("__v").cast("double"), 9).alias("__v"),
    )
    sums = ex.groupBy("__lbl", "pos").agg(
        F.sum(F.col("__v").cast("decimal(30,9)")).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    cent = (
        sums.select(
            "__lbl", "pos",
            (F.col("__s").cast("double") / F.col("__n")).alias("__c"),
        )
        .groupBy("__lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__c"))),
                lambda s: s["__c"],
            ).alias("__cv")
        )
    )
    j = emb.join(
        F.broadcast(cent), on=F.col(label_col) == F.col("__lbl")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("__cv"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy(label_col).orderBy(F.desc("d2"), F.asc(id_col))
    return (
        j.select(F.col(id_col), F.col(label_col), d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_n)
    )


def kmeans_lloyd(
    corpus: DataFrame, k: int = 8, n_rounds: int = 1, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
    scale_bits: int = 20,
) -> DataFrame:
    """ORACLE-EXACT Lloyd k-means: unlike ``ivf_centroids`` (pyspark.ml
    KMeans — fast, but sampling/init make it engine-specific), every
    arithmetic step here is bit-reproducible in any engine:

    - coords quantize once to fixed point (floor(x * 2^scale_bits) as
      BIGINT — floor, not cast: cast rounds in some engines and
      truncates in others);
    - initial centroids are the quantized coords of the k smallest ids
      (deterministic, SQL-derivable — the pivot-quantizer convention);
    - assignment is argmin of a LEFT-ASSOCIATED double chain over the
      k centroid literals (ties to the smallest cell id) — the same
      fold order as _nearest_cells / _sqdist_sql;
    - centroid recompute sums the BIGINT coords exactly (integer sums
      commute; double sums do not) and divides IN SQL as double/double,
      so the collected means are the same IEEE doubles DuckDB computes.

    Scale: assignment is a scan-stage expression (centroids are plan
    literals; ride the broadcast-column path past CELL_EXPR_MAX as in
    _with_probe_cells); the recompute shuffles only (cell, 64 partial
    int sums) per map task — partial aggregation makes the shuffle
    k×dim integers per task regardless of corpus size. Each round
    collects k×dim doubles (centroid metadata, not data). Exact-sum
    validity needs n_rows * 2^scale_bits < 2^53 — at 10^9 rows drop
    scale_bits to 22 or split the sum; asserted here for the local
    scale. Returns (id, cell) for the final assignment after
    ``n_rounds`` recompute rounds."""
    from pyspark import StorageLevel

    scale = float(1 << scale_bits)
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("bigint")
    )
    base = corpus.select(F.col(id_col).alias("__vid"), qv.alias("__qv"))
    base = own(base.persist(StorageLevel.MEMORY_AND_DISK))
    base.count()
    # k smallest ids (the documented contract, matching kcenter_greedy's
    # first pick) — orderBy+limit, NOT `__vid < k`, so sparse or
    # non-zero-based id spaces still yield exactly k initial centroids
    init = base.orderBy("__vid").limit(k).collect()
    if len(init) != k:
        raise ValueError(f"kmeans_lloyd: corpus has {len(init)} rows < k={k}")
    cents = {int(r["__vid"]): [float(x) for x in r["__qv"]] for r in init}
    cell_ids = sorted(cents)

    def assign(df):
        vec_d = F.transform(F.col("__qv"), lambda x: x.cast("double"))
        return df.withColumn(
            "cell",
            _nearest_cells(vec_d, [cents[c] for c in cell_ids], 1, cell_ids)[0],
        )

    for _ in range(n_rounds):
        assigned = assign(base)
        aggs = [F.count(F.lit(1)).alias("__cnt")] + [
            F.sum(F.element_at("__qv", d + 1)).alias(f"__s{d}")
            for d in range(dim)
        ]
        means = (
            assigned.groupBy("cell")
            .agg(*aggs)
            .select(
                "cell",
                *[
                    (
                        F.col(f"__s{d}").cast("double")
                        / F.col("__cnt").cast("double")
                    ).alias(f"__m{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )
        for r in means:  # empty cells keep their previous centroid
            cents[int(r["cell"])] = [float(r[f"__m{d}"]) for d in range(dim)]

    out = assign(base).select(
        F.col("__vid").alias(id_col), F.col("cell").cast("bigint").alias("cell")
    )
    return out


def kcenter_greedy(
    corpus: DataFrame, k: int = 6, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
    scale_bits: int = 20,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez max-min, the
    2-approximation used for diversity sampling / coreset construction
    in data-selection pipelines): start from the smallest id, then k-1
    times pick the point FARTHEST from the chosen set (ties to the
    smallest id). Returns the full coverage map — every point with its
    nearest selected center and the exact integer squared distance.

    ORACLE-EXACT like kmeans_lloyd, but stronger: coords quantize to
    BIGINT and every distance is an exact INTEGER (|q| ≤ 2^scale_bits
    ⇒ per-dim square ≤ 2^(2·scale_bits+2), dim-sum ≪ 2^63, no float
    anywhere), so selection order and assignment are bit-identical in
    any engine.

    Scale: the only persisted state is (id, quantized vector); each
    of the k-1 selection steps is ONE scan-stage max-struct aggregate
    over distance expressions built from center LITERALS (no join, no
    shuffle beyond the aggregate), collecting a single row. The final
    assignment is again a scan-stage expression. Driver holds k
    vectors — metadata, not data."""
    from pyspark import StorageLevel

    scale = float(1 << scale_bits)
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("bigint")
    )
    base = corpus.select(F.col(id_col).alias("__vid"), qv.alias("__qv"))
    base = own(base.persist(StorageLevel.MEMORY_AND_DISK))
    base.count()

    def sqdist_to(lit_vec):
        arr = F.array(*[F.lit(int(v)) for v in lit_vec])
        return F.aggregate(
            F.zip_with(F.col("__qv"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    first = base.orderBy("__vid").limit(1).collect()[0]
    centers = [(int(first["__vid"]), [int(x) for x in first["__qv"]])]
    for _ in range(k - 1):
        md = None
        for _cid, cv in centers:
            d = sqdist_to(cv)
            md = d if md is None else F.least(md, d)
        # max-min: farthest point from the chosen set, ties to min id
        nxt = (
            base.select("__vid", "__qv", md.alias("__md"))
            .orderBy(F.desc("__md"), F.asc("__vid"))
            .limit(1)
            .collect()[0]
        )
        centers.append((int(nxt["__vid"]), [int(x) for x in nxt["__qv"]]))
    # coverage map: nearest center per point (ties to min center id)
    cands = F.array(
        *[
            F.struct(
                sqdist_to(cv).alias("sqdist"),
                F.lit(cid).cast("bigint").alias("center_id"),
            )
            for cid, cv in centers
        ]
    )
    best = F.array_min(cands)
    out = base.select(
        F.col("__vid").alias(id_col),
        best["center_id"].alias("center_id"),
        best["sqdist"].alias("sqdist"),
    )
    return out
