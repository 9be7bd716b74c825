"""Similarity search over embedding columns (north-star capability).

Two tiers:

- :func:`knn_bruteforce` — exact top-k cosine. The baseline; at scale this
  is a broadcast of the (small) query set against a partitioned scan of the
  embedding table: no shuffle of the big side at all, one TakeOrdered.
- :func:`lsh_bucket_candidates` / :func:`ann_topk` — random-hyperplane LSH.
  Signatures are computed with a deterministic seeded numpy projection in an
  Arrow-batched pandas UDF (the one place Python earns its keep: a matrix
  multiply per batch). Candidate generation joins on bucket id — linear
  scan becomes bucket-local, the 100 TB path.

Embedding-cosine near-dup detection (:func:`cosine_near_pairs`) rides the
same primitives.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from ..batchstore import record_table_schema
from ..functions.vectorfn import as_double, cosine

_LSH_SEED = 42


def lsh_planes_for_corpus(
    n_vectors: int, k: int, bucket_multiple: int = 4, max_planes: int = 24
) -> int:
    """Plane count that keeps the EXPECTED bucket size at least
    ``bucket_multiple * k`` vectors, so a single-bucket probe can fill a
    top-k (an under-provisioned plane count leaves buckets with fewer than
    k vectors and the probe under-fills — the failure mode the recall
    harness documents). ``2**planes`` buckets over ``n_vectors`` rows →
    choose ``planes = log2(n / (bucket_multiple·k))``, clamped to
    [1, max_planes]; the cap bounds probe-set fan-out for multi-probe at
    planet scale (24 planes = 16M buckets serves ~1e10 vectors at 4k=40
    per bucket)."""
    import math

    target_buckets = max(2, n_vectors // max(1, bucket_multiple * k))
    return max(1, min(max_planes, int(math.log2(target_buckets))))


def _query_vector(query: DataFrame, vec_col: str = "embedding") -> list:
    """The vector of a ONE-row ``query`` frame, evaluated with one
    action: a ``collect`` is one job over the frame, where ``first()``
    is a one-partition job plus a scale-up job whenever that partition
    is empty. The indexed and in-flight probes pick their bucket,
    centroids or LUT from this vector and score against it as a literal
    (:func:`_cosine_topk`), so the caller's plan runs once per probe.
    Raises ``ValueError`` stating the row count unless the frame holds
    exactly one row: every row would be scored while only one picked the
    candidates, so no single answer exists."""
    rows = query.select(vec_col).collect()
    if len(rows) != 1:
        raise ValueError(
            f"the query frame must hold exactly 1 row, it holds {len(rows)}"
        )
    return rows[0][0]


def _cosine_topk(
    cand: DataFrame, qvals: list, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact-cosine top-k of ``cand`` against the query's collected
    values: the vector as ONE ``array<double>`` literal and its norm
    folded on the driver, in the same left-to-right double order as
    ``l2_norm``, as one double literal. Element-wise literals put the
    vector into the tree three times (``dot`` and twice in the query's
    ``l2_norm``), and building that select cost ~0.1 s of driver time
    per probe. A collected float is the exact double ``as_double`` casts
    the same element to, and Python and the JVM share IEEE ``+``, ``*``
    and correctly rounded ``sqrt``, so every ``sim`` is bit-identical to
    scoring against the query column. A null element nulls every
    ``sim``, as it does there."""
    import math

    import numpy as np

    from ..functions.vectorfn import dot, l2_norm

    q_norm = None
    if None not in qvals:
        acc = 0.0
        for v in qvals:  # not sum(): Python 3.12+ compensates its float sums
            acc += v * v
        q_norm = math.sqrt(acc)
    q = F.lit(np.array([np.nan if v is None else v for v in qvals], dtype=np.float64))
    e_vec = as_double(F.col(vec_col))
    sims = cand.select(
        F.col(id_col),
        (dot(e_vec, q) / (l2_norm(e_vec) * F.lit(q_norm).cast("double"))).alias("sim"),
    )
    return sims.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def knn_bruteforce(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of a single-row ``query`` DataFrame
    (column ``embedding``). Returns (vec_id, sim) — sim in double, computed
    as a sequential left-fold (oracle-reproducible).

    The query vector's norm is folded ONCE on the broadcast side (the
    identical double the per-row fold would produce, so round-6 oracle
    bit-equality is untouched): higher-order-function folds are
    interpreted, not whole-stage-codegen'd, so hoisting one of the three
    per-row folds cuts a third of the row cost."""
    from ..functions.vectorfn import dot, l2_norm

    q = F.broadcast(
        query.select(as_double(F.col(vec_col)).alias("q_vec")).select(
            "q_vec", l2_norm(F.col("q_vec")).alias("q_norm")
        )
    )
    e_vec = as_double(F.col(vec_col))
    sims = embeddings.crossJoin(q).select(
        F.col(id_col),
        (
            dot(e_vec, F.col("q_vec"))
            / (l2_norm(e_vec) * F.col("q_norm"))
        ).alias("sim"),
    )
    return sims.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    out_col: str = "bucket",
    seed: int | None = None,
) -> DataFrame:
    """Add a random-hyperplane LSH bucket id (int, 2**n_planes buckets).

    Arrow-batched: each batch is one (batch_size × dim) @ (dim × n_planes)
    matmul — vectorized, no per-row Python. ``seed`` defaults to the
    module seed; readers of a PERSISTED index must pass the sidecar's
    recorded seed (as ``lsh_topk_indexed`` does) so their planes match
    the index's, whatever constant the module ships with today."""

    seed = _LSH_SEED if seed is None else seed

    @pandas_udf("long")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        # self-contained (stdlib/numpy only): ships by value to executors
        import numpy as _np
        import pandas as _pd

        planes = _np.random.RandomState(seed).standard_normal((dim, n_planes))
        mat = _np.stack(vecs.to_numpy()).astype(_np.float64)
        bits = (mat @ planes) > 0
        weights = (1 << _np.arange(n_planes)).astype(_np.int64)
        return _pd.Series(bits @ weights)

    return embeddings.withColumn(out_col, bucket_udf(F.col(vec_col)))


def ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket, then exact cosine
    within it. Recall is tunable two ways: fewer planes → bigger buckets,
    and ``probe_hamming=1`` → multi-probe (also scan the n_planes buckets
    one bit-flip away — the standard multi-probe LSH recall lift at
    (n_planes+1)× probe cost, still a vanishing fraction of the corpus).

    The probe set expands on the BROADCAST side (one row per probe
    bucket), so the big table still sees one broadcast hash join keyed on
    its bucket column and never shuffles; a vector lives in exactly one
    bucket, so multi-probe cannot duplicate candidates."""
    bucketed = with_lsh_bucket(embeddings, dim, n_planes, vec_col)
    q_row = with_lsh_bucket(query.select(F.col(vec_col)), dim, n_planes, vec_col).select(
        F.col("bucket").alias("q_bucket"), as_double(F.col(vec_col)).alias("q_vec")
    )
    probes = [F.col("q_bucket")]
    if probe_hamming >= 1:
        probes += [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
        ]
    q_bucketed = q_row.select(
        F.explode(F.array(*probes)).alias("q_bucket"), "q_vec"
    )
    cand = bucketed.join(
        F.broadcast(q_bucketed), F.col("bucket") == F.col("q_bucket"), "inner"
    )
    sims = cand.select(F.col(id_col), cosine(as_double(F.col(vec_col)), F.col("q_vec")).alias("sim"))
    return sims.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def lsh_build_index(
    embeddings: DataFrame,
    index_dir,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH index: the bucketed table written PARTITIONED BY
    bucket plus a tiny JSON sidecar of the projection parameters — the
    durable twin of what :func:`ann_topk` computes in-flight (which runs
    the pandas-UDF bucket matmul over the FULL table per query). Built
    once; every probe afterwards reads only its probed bucket partitions
    via planning-time partition pruning, and the serving plan contains no
    Python at all (the query's own bucket is computed driver-side)."""
    import json
    from pathlib import Path

    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)
    bucketed = with_lsh_bucket(embeddings, dim, n_planes, vec_col)
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(
        str(index_dir / "bucketed")
    )
    record_table_schema(bucketed, index_dir / "bucketed", "bucket")
    (index_dir / "lsh_meta.json").write_text(
        json.dumps({"dim": dim, "n_planes": n_planes, "seed": _LSH_SEED})
    )


def lsh_topk_indexed(
    spark,
    index_dir,
    query: DataFrame,
    k: int = 10,
    probe_hamming: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted LSH index: compute the query's bucket driver-side
    with the SAME seeded projection the index used, expand multi-probe
    buckets (Hamming-1 bit flips), then scan ONLY those bucket partitions
    — ``bucket IN (...)`` resolves as a partition filter at planning time.
    Returns the same rows as the in-flight :func:`ann_topk` for the same
    parameters (pinned by ``test_lsh_indexed_matches_inflight``).

    ``query`` must hold exactly one row (``ValueError`` otherwise); it is
    evaluated once (:func:`_query_vector`) and scored as a literal."""
    import json
    from pathlib import Path

    import numpy as np

    index_dir = Path(index_dir)
    meta = json.loads((index_dir / "lsh_meta.json").read_text())
    dim, n_planes, seed = meta["dim"], meta["n_planes"], meta["seed"]
    planes = np.random.RandomState(seed).standard_normal((dim, n_planes))
    qvals = _query_vector(query, vec_col)
    qvec = np.array(qvals, dtype=np.float64)
    bits = (qvec @ planes) > 0
    bucket = int(bits @ (1 << np.arange(n_planes)).astype(np.int64))
    probes = [bucket]
    if probe_hamming >= 1:
        probes += [bucket ^ (1 << i) for i in range(n_planes)]

    cand = _with_increments(
        spark, index_dir / "bucketed", index_dir / "bucketed_inc", ("bucket", probes)
    )
    return _cosine_topk(cand, qvals, k, id_col, vec_col)


def ivf_fit_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    sample_size: int = 4096,
    n_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fit IVF coarse centroids: spherical k-means on a driver-side sample.

    The sample (few thousand rows) is the only data that ever leaves the
    executors; at 100 TB this is exactly how IVF indexes are built — train
    the coarse quantizer on a sample, then assign the full table
    distributed. Deterministic: the sample is an order-stable seeded
    hash-sample on the id column (xxhash64 of id + seed, take the smallest
    ``sample_size``) — independent of partition/scan order, uniform over
    ids; then seeded init, fixed iterations, Lloyd updates on L2-normalized
    vectors (cosine geometry).
    Returns an (n_clusters × dim) float64 numpy array."""
    import numpy as np

    rows = (
        embeddings.select(
            vec_col, F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h")
        )
        .orderBy("__h", id_col)
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True).clip(min=1e-12)
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_clusters, len(mat)), replace=False)]
    for _ in range(n_iters):
        assign = (mat @ centroids.T).argmax(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Assign each vector to its nearest centroid (Arrow-batched matmul)."""
    cents = [list(map(float, c)) for c in centroids]  # plain lists: pickle-safe

    @pandas_udf("int")
    def assign_udf(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        C = _np.array(cents, dtype=_np.float64)
        mat = _np.stack(vecs.to_numpy()).astype(_np.float64)
        mat /= _np.linalg.norm(mat, axis=1, keepdims=True).clip(min=1e-12)
        return _pd.Series((mat @ C.T).argmax(axis=1).astype("int32"))

    return embeddings.withColumn(out_col, assign_udf(F.col(vec_col)))


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: exact cosine over only the ``n_probe``
    clusters nearest to the query — the scan shrinks by ~n_probe/n_clusters.

    At scale the assigned table is written partitioned by cluster so a
    probe reads only those partitions (partition pruning does the work).

    ``query`` must hold exactly one row (``ValueError`` otherwise); it is
    evaluated once (:func:`_query_vector`) and scored as a literal."""
    import numpy as np

    qvals = _query_vector(query, vec_col)
    centroids = ivf_fit_centroids(
        embeddings, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col
    )
    qvec = np.array(qvals, dtype=np.float64)
    qvec /= max(np.linalg.norm(qvec), 1e-12)
    probe = np.argsort(-(centroids @ qvec))[:n_probe].tolist()

    assigned = ivf_assign(embeddings, centroids, vec_col)
    cand = assigned.filter(F.col("cluster").isin([int(p) for p in probe]))
    return _cosine_topk(cand, qvals, k, id_col, vec_col)


def cosine_near_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via tiled block matmul — the
    scale path for the near-pairs query.

    Exact all-pairs at a low threshold is inherently O(n²) FLOPs; the
    scale question is whether O(n²) ROWS ever hit a shuffle. Here they
    don't:

    1. each vector gets a deterministic block id (xxhash64 % n_blocks) and
       is replicated to the n_blocks block-PAIRS it participates in — the
       shuffle is n_blocks × the table, not n²;
    2. one Arrow batch per block-pair runs a single numpy matmul over its
       tile and emits ONLY the candidate (id1, id2) ids above
       ``threshold - margin`` — BLAS compute, zero per-row Python, no
       quadratic materialization;
    3. candidates re-join the embedding table and the final similarity is
       recomputed with the sequential left-fold :func:`cosine` expression,
       so emitted values are bit-identical to a naive all-pairs engine
       (the matmul margin absorbs BLAS-vs-fold rounding skew).

    At 100 TB, n_blocks scales with the cluster so each tile fits executor
    memory; replication cost is n_blocks × input, the classic distributed
    matrix-product tradeoff. Returns (id1, id2, sim) with id1 < id2."""
    margin = 1e-6
    tagged = embeddings.select(
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # Replicate each row to every block-pair (min(blk,j), max(blk,j)).
    pairs = tagged.select(
        "id",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        "id",
        "v",
        "blk",
        F.least("blk", "other").alias("p1"),
        F.greatest("blk", "other").alias("p2"),
    )

    thr = float(threshold) - margin

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # self-contained closure (numpy/pandas only): ships by value
        import numpy as _np
        import pandas as _pd

        p1, p2 = int(pdf["p1"].iloc[0]), int(pdf["p2"].iloc[0])
        ids = pdf["id"].to_numpy()
        mat = _np.stack(pdf["v"].to_numpy()).astype(_np.float64)
        mat /= _np.linalg.norm(mat, axis=1, keepdims=True).clip(min=1e-300)
        if p1 == p2:
            sims = mat @ mat.T
            i_idx, j_idx = _np.nonzero(_np.triu(sims >= thr, k=1))
            id1, id2 = ids[i_idx], ids[j_idx]
        else:
            a_mask = pdf["blk"].to_numpy() == p1
            A, B = mat[a_mask], mat[~a_mask]
            ida, idb = ids[a_mask], ids[~a_mask]
            sims = A @ B.T
            i_idx, j_idx = _np.nonzero(sims >= thr)
            id1, id2 = ida[i_idx], idb[j_idx]
        lo = _np.minimum(id1, id2)
        hi = _np.maximum(id1, id2)
        return _pd.DataFrame({"id1": lo, "id2": hi})

    cand = pairs.groupBy("p1", "p2").applyInPandas(run, "id1 long, id2 long")

    e1 = embeddings.select(F.col(id_col).alias("id1"), as_double(F.col(vec_col)).alias("v1"))
    e2 = embeddings.select(F.col(id_col).alias("id2"), as_double(F.col(vec_col)).alias("v2"))
    return (
        cand.join(e1, "id1")
        .join(e2, "id2")
        .select("id1", "id2", cosine(F.col("v1"), F.col("v2")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold — the NAIVE all-pairs self-join.

    Kept as the small-scale cross-check twin of
    :func:`cosine_near_pairs_blocked` (which the declared query runs);
    this form materializes O(n²) rows and must not be used at scale."""
    a = embeddings.select(F.col(id_col).alias("id1"), as_double(F.col(vec_col)).alias("v1"))
    b = embeddings.select(F.col(id_col).alias("id2"), as_double(F.col(vec_col)).alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", cosine(F.col("v1"), F.col("v2")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def centroids_by_label(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label elementwise mean as (label, pos, centroid_val) rows —
    posexplode + groupBy, fully JVM-side, one shuffle keyed on
    (label, position)."""
    exploded = embeddings.select(
        F.col(label_col), F.posexplode(as_double(F.col(vec_col))).alias("pos0", "x")
    )
    return (
        exploded.groupBy(label_col, (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.avg("x").alias("centroid_val"))
    )


def ivf_build_index(
    embeddings: DataFrame,
    index_dir,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the assigned table written PARTITIONED BY
    cluster (each cluster = one parquet directory) plus the centroids as a
    tiny JSON sidecar. This is the durable form of what :func:`ivf_topk`
    computes in-flight — at corpus scale the index is built once and every
    probe afterwards reads only its ``n_probe`` partitions via partition
    pruning (pinned by ``test_ivf_indexed_probe_prunes_partitions``)."""
    import json
    from pathlib import Path

    index_dir = Path(index_dir)
    centroids = ivf_fit_centroids(embeddings, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(embeddings, centroids, vec_col)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(str(index_dir / "assigned"))
    record_table_schema(assigned, index_dir / "assigned", "cluster")
    (index_dir / "centroids.json").write_text(
        json.dumps([[float(x) for x in c] for c in centroids])
    )


def ivf_topk_indexed(
    spark,
    index_dir,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: rank centroids driver-side, then scan
    ONLY the probed cluster partitions (the ``cluster IN (...)`` filter is
    a partition filter, not a data filter — pruning happens at planning,
    before any file is opened).

    ``query`` must hold exactly one row (``ValueError`` otherwise); it is
    evaluated once (:func:`_query_vector`) and scored as a literal."""
    import json
    from pathlib import Path

    import numpy as np

    index_dir = Path(index_dir)
    centroids = np.array(json.loads((index_dir / "centroids.json").read_text()))
    qvals = _query_vector(query, vec_col)
    qvec = np.array(qvals, dtype=np.float64)
    qvec /= max(np.linalg.norm(qvec), 1e-12)
    probe = [int(p) for p in np.argsort(-(centroids @ qvec))[:n_probe]]

    cand = _with_increments(
        spark, index_dir / "assigned", index_dir / "assigned_inc", ("cluster", probe)
    )
    return _cosine_topk(cand, qvals, k, id_col, vec_col)


def pq_fit_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    n_iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fit product-quantization codebooks: split the (L2-normalized)
    vector into ``m`` contiguous subspaces and run seeded k-means with
    ``n_codes`` centroids in each, on the same deterministic driver-side
    hash-sample the IVF trainer uses. Only the sample leaves the
    executors; the full table is encoded distributed afterwards.
    Returns a list of m (n_codes × dim/m) float64 arrays."""
    import numpy as np

    rows = (
        embeddings.select(
            vec_col, F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h")
        )
        .orderBy("__h", id_col)
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True).clip(min=1e-12)
    dim = mat.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for i in range(m):
        sub = mat[:, i * dsub : (i + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(n_codes, len(sub)), replace=False)]
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector to its m nearest-subspace-centroid codes
    (Arrow-batched). The code column is m small ints — at 100 TB the
    encoded table is ~dim/m × 8/64 the byte volume of raw float vectors,
    and it's what ADC scans read instead of the embeddings."""
    books = [[list(map(float, c)) for c in b] for b in codebooks]

    @pandas_udf("array<int>")
    def encode_udf(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        B = [_np.array(b, dtype=_np.float64) for b in books]
        mat = _np.stack(vecs.to_numpy()).astype(_np.float64)
        mat /= _np.linalg.norm(mat, axis=1, keepdims=True).clip(min=1e-12)
        dsub = B[0].shape[1]
        codes = []
        for i, cents in enumerate(B):
            sub = mat[:, i * dsub : (i + 1) * dsub]
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            codes.append(d2.argmin(axis=1))
        stacked = _np.stack(codes, axis=1).astype("int32")
        return _pd.Series(list(stacked))

    return embeddings.withColumn(out_col, encode_udf(F.col(vec_col)))


def _pq_adc_lut(qvec, books) -> list[list[float]]:
    """m×n_codes table of subspace dot products for one (already
    L2-normalized) query vector — the per-query half of asymmetric
    distance computation."""
    import numpy as np

    m = len(books)
    dsub = len(qvec) // m
    return [
        [float(np.dot(qvec[i * dsub : (i + 1) * dsub], c)) for c in books[i]]
        for i in range(m)
    ]


def _pq_adc_score(lut: list[list[float]], code_col: str = "pq_code"):
    """ADC score of an encoded vector: m LUT lookups summed. The LUT ships
    as a Catalyst array literal, so the scan is pure codegen'd expression
    work — no float vector and no Python anywhere in the scoring path."""
    m = len(lut)
    lut_col = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.element_at(lut_col, i + F.lit(1)),
            F.element_at(F.col(code_col), i + F.lit(1)) + F.lit(1),
        ),
    )


def pq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    shortlist_factor: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k: asymmetric-distance shortlist + exact rerank.

    The query builds an m×n_codes lookup table of subspace dot products
    against the codebooks; each encoded vector's ADC score is m table
    lookups summed — no float vector is read during the shortlist scan.
    The LUT ships as a Catalyst array literal, so scoring is pure
    codegen'd expression work (the pandas UDF runs only in the one-off
    encode pass). The top ``shortlist_factor×k`` ADC candidates are then
    reranked with exact cosine — the standard PQ serving shape: at 100 TB
    the exact pass reads only the shortlist's vectors (a keyed semi-join
    against the embedding table), so quantization error affects which
    candidates are considered, never their final ordering.

    ``query`` must hold exactly one row (``ValueError`` otherwise); it is
    evaluated once (:func:`_query_vector`) and scored as a literal."""
    import numpy as np

    qvals = _query_vector(query, vec_col)
    books = pq_fit_codebooks(
        embeddings, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    qvec = np.array(qvals, dtype=np.float64)
    qvec /= max(np.linalg.norm(qvec), 1e-12)
    lut = _pq_adc_lut(qvec, books)

    encoded = pq_encode(embeddings, books, vec_col)
    score = _pq_adc_score(lut)
    shortlist = (
        encoded.select(F.col(id_col), F.col(vec_col), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col))
        .limit(shortlist_factor * k)
    )
    return _cosine_topk(shortlist, qvals, k, id_col, vec_col)


def pq_build_index(
    embeddings: DataFrame,
    index_dir,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    n_iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index: fit codebooks once (driver sample), encode
    the FULL table once, and persist ``(id, pq_code)`` parquet plus the
    codebooks as a tiny JSON sidecar — the durable twin of what
    :func:`pq_topk` computes in-flight, mirroring
    :func:`ivf_build_index`/:func:`ivf_topk_indexed`.

    This is the shape that survives 100×: the encode pass (the only
    pandas-UDF stage) runs exactly once at build time; every query
    afterwards ADC-scans the code table — m small ints per vector, ~1/32
    the byte volume of raw float64 vectors — in pure codegen'd expression
    work, and touches float vectors only for its k×shortlist_factor
    rerank candidates."""
    import json
    from pathlib import Path

    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)
    books = pq_fit_codebooks(
        embeddings,
        m=m,
        n_codes=n_codes,
        sample_size=sample_size,
        n_iters=n_iters,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    codes = pq_encode(embeddings, books, vec_col).select(id_col, "pq_code")
    codes.write.mode("overwrite").parquet(str(index_dir / "codes"))
    record_table_schema(codes, index_dir / "codes")
    (index_dir / "codebooks.json").write_text(
        json.dumps([[[float(x) for x in c] for c in b] for b in books])
    )


# -- incremental index maintenance ------------------------------------------
#
# A persisted index is built once, but the corpus keeps growing: each
# micro-batch of newly-ingested vectors is encoded with the index's FROZEN
# parameters (the seeded LSH projection / persisted IVF centroids / PQ
# codebooks — retraining is an offline rebuild, standard ANN practice) and
# written as an increment the serving readers union with the base table.
# Layout per family: ``<table>_inc/ingest_batch=B/...`` with the SAME
# pruning partition column as the base, so planning-time partition pruning
# applies to increments exactly as to the base. Each increment dir is
# written tmp+atomic-rename and keyed by micro-batch id, so a crash-replay
# overwrites its own dir (idempotent) and a fresh-checkpoint replay is
# skipped by the batch-id guard in streaming/index_stream.py.


def _write_increment(df: DataFrame, inc_root, batch_id: int, partition_by=None) -> None:
    """Delegates to the ONE shared increment protocol
    (``batchstore.append_batch_increment``): tmp + atomic rename,
    empty-increment refusal, cache across probe+write, and
    partition-clustered output — a private copy here had already drifted
    on the last two."""
    from ..batchstore import append_batch_increment

    append_batch_increment(df, inc_root, batch_id, partition_by=partition_by)


def _with_increments(spark, base, inc, partition=None) -> DataFrame:
    """The index table: base ∪ increments (if any), read with their
    recorded schemas, so building the view runs no schema-inference
    job. ``partition=(column, values)`` narrows both sides to the probed
    ``bucket=`` / ``cluster=`` leaves when they are LISTED
    (``batchstore.read_table`` / ``read_store``), so a probe lists no
    other leaf and, however many buckets or clusters the index holds,
    runs no listing job; the ``isin`` stays as a planning-time partition
    filter. The increment side goes through ``read_store`` so a
    consolidated store (see :func:`compact_index_increments`) serves the
    same view."""
    from ..batchstore import read_store, read_table

    df = read_table(spark, base, partition)
    inc_view = read_store(spark, inc, partition=partition)
    if inc_view is not None:
        inc_view = inc_view.drop("ingest_batch")
        df = inc_view if df is None else df.unionByName(inc_view)
    if df is None:  # no probed leaf at all: the empty, filtered whole base
        df = read_table(spark, base).filter(F.col(partition[0]).isin(list(partition[1])))
    return df


def index_increment_bounds(index_dir) -> tuple[int, int]:
    """(lo, hi) of the last folded micro-batch id across present index
    families — the stream's replay-guard authority (both -1 when no
    family has increments).

    The stream skips a batch only when ``batch_id <= lo`` (folded into
    EVERY family — min, not max, because a crash between per-family
    writes leaves the batch folded into some families only, and a
    max-based skip would silently lose it for the families written
    later), and folds when ``batch_id >= hi`` (a new batch, or a replay
    of the top batch refilling laggard families — idempotent, each
    family overwrites its own batch dir). The zone BETWEEN the bounds is
    unreachable under one checkpoint (batch ids only grow), so hitting
    it means the stores disagree with the stream's numbering — e.g. a
    family was built with a sidecar but empty increments (reports -1)
    while a FRESH checkpoint renumbers the replay from 0: folding that
    renumbered batch would append every replayed vector under new batch
    ids alongside the old ones, silently duplicating candidates in the
    already-folded families. The stream raises instead (see
    ``start_index_stream``). A family counts as present when its
    parameter sidecar exists; per-family ids come from
    ``batchstore.last_batch_id``, which also covers batches folded away
    by :func:`compact_index_increments`."""
    from pathlib import Path

    from ..batchstore import last_batch_id

    index_dir = Path(index_dir)
    per_family: list[int] = []
    for sidecar, inc_name in _INDEX_FAMILIES:
        if not (index_dir / sidecar).exists():
            continue
        per_family.append(last_batch_id(index_dir / inc_name))
    if not per_family:
        return (-1, -1)
    return (min(per_family), max(per_family))


def last_index_increment(index_dir) -> int:
    """The ``lo`` bound of :func:`index_increment_bounds` — the highest
    micro-batch id folded into EVERY present family, or -1."""
    return index_increment_bounds(index_dir)[0]


_INDEX_FAMILIES = (
    ("lsh_meta.json", "bucketed_inc"),
    ("centroids.json", "assigned_inc"),
    ("codebooks.json", "codes_inc"),
)
_INDEX_FAMILY_PARTITIONS = {
    "bucketed_inc": ["bucket"],
    "assigned_inc": ["cluster"],
    "codes_inc": None,
}


def _index_store_map(index_dir) -> dict:
    """{increment store: pruning partition columns} for every index
    family present under ``index_dir`` (detected by its parameter
    sidecar) — the one store map behind both the offline
    :func:`compact_index_increments` and the index stream's in-stream
    consolidation."""
    from pathlib import Path

    index_dir = Path(index_dir)
    return {
        index_dir / inc_name: _INDEX_FAMILY_PARTITIONS[inc_name]
        for sidecar, inc_name in _INDEX_FAMILIES
        if (index_dir / sidecar).exists()
    }


def compact_index_increments(spark, index_dir) -> dict[str, int]:
    """OFFLINE maintenance for the persisted indexes' increment stores:
    each accretes one ``ingest_batch=B`` dir per micro-batch forever,
    and partition DISCOVERY lists them all even though probes prune
    their files. Folds every present family's live batches into one
    consolidated partition (crash-safe marker protocol, ``batchstore``),
    preserving the family's pruning partition column, so directory count
    resets while serving reads are unchanged. Run while the index stream
    is NOT running. Returns {family_store: dirs_folded}."""
    from ..batchstore import consolidate_stores

    return consolidate_stores(spark, _index_store_map(index_dir))


def append_index_increments(
    batch_df: DataFrame,
    index_dir,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[str]:
    """Fold one micro-batch of new vectors into every persisted index
    present under ``index_dir`` (detected by its parameter sidecar).
    Returns the families updated. Cost is O(batch) per family — the batch
    is encoded with frozen parameters and appended; nothing existing is
    read or rewritten."""
    import json
    from pathlib import Path

    import numpy as np

    index_dir = Path(index_dir)
    updated: list[str] = []

    meta_p = index_dir / "lsh_meta.json"
    if meta_p.exists():
        meta = json.loads(meta_p.read_text())
        bucketed = with_lsh_bucket(batch_df, meta["dim"], meta["n_planes"], vec_col)
        _write_increment(
            bucketed, index_dir / "bucketed_inc", batch_id, partition_by="bucket"
        )
        updated.append("lsh")

    cent_p = index_dir / "centroids.json"
    if cent_p.exists():
        centroids = np.array(json.loads(cent_p.read_text()))
        assigned = ivf_assign(batch_df, centroids, vec_col)
        _write_increment(
            assigned, index_dir / "assigned_inc", batch_id, partition_by="cluster"
        )
        updated.append("ivf")

    books_p = index_dir / "codebooks.json"
    if books_p.exists():
        books = [np.array(b) for b in json.loads(books_p.read_text())]
        codes = pq_encode(batch_df, books, vec_col).select(id_col, "pq_code")
        _write_increment(codes, index_dir / "codes_inc", batch_id)
        updated.append("pq")

    return updated


def pq_topk_indexed(
    spark,
    index_dir,
    query: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    shortlist_factor: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve PQ top-k from a persisted index: ADC-shortlist over the code
    table (no pandas UDF, no float vector reads — pinned by
    ``test_pq_indexed_plan_reads_code_table``), then exact-cosine rerank by
    fetching ONLY the shortlist's vectors from ``embeddings`` via a
    broadcast keyed join (the shortlist is k×shortlist_factor rows — tiny).
    Same codebook/LUT/score arithmetic as :func:`pq_topk`, so both paths
    return identical rows.

    ``query`` must hold exactly one row (``ValueError`` otherwise); it is
    evaluated once (:func:`_query_vector`) and scored as a literal."""
    import json
    from pathlib import Path

    import numpy as np

    index_dir = Path(index_dir)
    books = [np.array(b) for b in json.loads((index_dir / "codebooks.json").read_text())]
    qvals = _query_vector(query, vec_col)
    qvec = np.array(qvals, dtype=np.float64)
    qvec /= max(np.linalg.norm(qvec), 1e-12)
    lut = _pq_adc_lut(qvec, books)

    codes = _with_increments(spark, index_dir / "codes", index_dir / "codes_inc")
    shortlist = (
        codes.select(F.col(id_col), _pq_adc_score(lut).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col))
        .limit(shortlist_factor * k)
    )
    cand = embeddings.join(F.broadcast(shortlist.select(id_col)), id_col)
    return _cosine_topk(cand, qvals, k, id_col, vec_col)


def rrf_fuse(
    ranked: "list[DataFrame]",
    k: int = 60,
    id_col: str = "id",
    rank_col: str = "r",
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009) over N
    already-ranked candidate lists: score(id) = Σ_i 1/(k + rank_i(id)),
    with absent membership contributing 0. Inputs are (id_col, rank_col)
    frames; output is (id_col, rrf_score, rank_1..rank_N) ordered by
    (rrf_score desc, id), optionally limited.

    Shape at scale: each input is a candidate list (depth-bounded by its
    generator — TakeOrderedAndProject top-k, an ANN probe, a BM25 index
    probe), so the N-1 full-outer joins run over depth-sized frames; the
    fusion never touches the corpus. The additions run in fixed list
    order, so the fused double is deterministic for a given list order.

    Each input is collapsed to its BEST (minimum) rank per id before
    joining (ADVICE r14): a generator that emitted duplicate ids would
    otherwise multiply rows through the chained full joins and silently
    inflate that id's fused score — min-rank is the standard RRF
    resolution and a no-op for well-formed (already-unique) lists."""
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")

    def _best(df: DataFrame, alias: str) -> DataFrame:
        return df.groupBy(id_col).agg(
            F.min(F.col(rank_col).cast("int")).alias(alias)
        )

    fused = _best(ranked[0], "rank_1")
    for i, nxt in enumerate(ranked[1:], start=2):
        fused = fused.join(_best(nxt, f"rank_{i}"), id_col, "full")
    score = None
    for i in range(1, len(ranked) + 1):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    out = fused.select(
        id_col,
        score.alias("rrf_score"),
        *[f"rank_{i}" for i in range(1, len(ranked) + 1)],
    )
    out = out.orderBy(F.col("rrf_score").desc(), id_col)
    return out.limit(topk) if topk is not None else out
