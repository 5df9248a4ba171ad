"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``     : brute-force exact top-k against one query
  vector. The query vector folds into the plan as literals, so the
  scan is a single pass with a TakeOrderedAndProject top-k — on a
  cluster this is embarrassingly parallel and never shuffles data.
- ``cosine_near_pairs``: all-pairs above a threshold, blocked by a
  random-hyperplane LSH bucket so the join is an equi-join on the
  bucket key (the 100 TB path); exact verification inside buckets.
- ``ivf_topk``        : IVF-style two-stage search — assign rows to
  the nearest of k centroids at index time, probe only the closest
  ``nprobe`` centroid partitions at query time.

All dot products are JVM-side higher-order functions (zip_with +
aggregate) over array<double> — no Python per row.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot_lit(vec_col: Column, qvec: list[float]) -> Column:
    """Dot product of a vector column with a literal query vector.

    Compact fold form: one small expression tree, safe to compose
    repeatedly (k-means builds distance expressions per centroid per
    iteration — an unrolled 64-term chain there explodes generated
    code to OOM). For a hot single-pass path use
    ``_dot_lit_unrolled``."""
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return F.aggregate(
        F.zip_with(vec_col.cast("array<double>"), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_lit_unrolled(vec_col: Column, qvec: list[float]) -> Column:
    """Same dot product as ``_dot_lit``, unrolled into a chained
    codegen expression (element_at × lit terms): no interpreted HOF
    lambda per element, ~10× faster per evaluation. The chain adds
    left-to-right — the SAME summation order as the fold (and as
    DuckDB's list_dot_product), so oracle bit-equality holds. Use
    ONLY in single-pass plans (e.g. SRP bucketing): composing it
    iteratively multiplies generated-code size."""
    acc: Column = F.lit(0.0)
    for i, x in enumerate(qvec):
        acc = acc + F.element_at(vec_col, i + 1).cast("double") * F.lit(float(x))
    return acc


def _norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec_col.cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_sim_lit(vec_col: Column, qvec: list[float]) -> Column:
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qvec))
    return _dot_lit(vec_col, qvec) / (_norm(vec_col) * F.lit(qnorm))


def cosine_topk(
    df: DataFrame,
    qvec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k (the baseline ANN oracle)."""
    sim = F.round(cosine_sim_lit(F.col(vec_col), qvec), round_dp)
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _dot_cols(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_cols_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Column-column dot unrolled to a codegen element_at chain —
    ~10× the interpreted zip_with/aggregate fold on hot pair joins.
    Adds left-to-right from 0.0, the SAME summation order as the fold
    and as DuckDB's list_dot_product, so oracle bit-equality holds.
    ``dim`` must be the actual vector length (element_at past the end
    yields null and poisons the sum) — use only where the corpus
    dimension is fixed and known."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + (
            F.element_at(a, i + 1).cast("double")
            * F.element_at(b, i + 1).cast("double")
        )
    return acc


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG; fixed seed)."""
    state = seed | 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            v.append(((state >> 11) / float(1 << 52)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 0,
    round_dp: int = 4,
    per_vec_cap: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    n_planes=0 → exact all-pairs (oracle / small data): per-pair fold
    expressions, length-agnostic, bit-identical to the SQL mirror.

    ``per_vec_cap`` bounds the OUTPUT (VERDICT r9 task 3, the simhash
    treatment): each left vector keeps only its ``cap`` most similar
    qualifying neighbors, ordered by the ROUNDED similarity desc with
    id_b tiebreak — the rounded value is what both engines agree on
    bit-for-bit (GEMM vs sequential-fold raw doubles differ at machine
    precision), so the cap is deterministic and oracle-mirrorable. A
    vector lives in exactly ONE SRP bucket, so in blocked mode the cap
    applies ENTIRELY inside the per-bucket kernel — no extra exchange;
    output ≤ cap×n rows at any corpus size. Same recall caveat as
    simhash's directed cap: a vector appearing only as id_b of
    capped-away pairs can lose its edges; clustering consumers should
    prefer the uncapped thresholded twin or union both orientations.

    n_planes>0 → SRP-LSH blocking, verified bucket-locally with ONE
    numpy GEMM per bucket (``applyInPandas``). The pair join it
    replaces was quietly catastrophic: the optimizer pushes the
    ``sim >= threshold`` predicate into the bucket equi-join's join
    condition, the 64-term dot lands inside BroadcastHashJoin's
    condition, the generated method blows the JIT limit and the whole
    stage runs interpreted — measured 43µs per candidate pair (225s
    for 5.2M candidates at sf1). The GEMM kernel computes the same
    5.2M sims in a handful of BLAS calls (~3s), and each bucket is an
    independent task — the identical shape, and scaling story, as
    ``semdedup_prune``. float64 GEMM vs the oracle's sequential fold
    differ only in summation order; both sides round to ``round_dp``
    and threshold on values that sit far from the boundary at machine
    precision (hash-verified at sf0.01 AND the full sf1 corpus).
    """
    if n_planes > 0:
        # Bucket signatures in a vectorized Arrow kernel, NOT the
        # unrolled codegen expression: the 8×64-term chain costs
        # seconds of Janino compilation on every invocation (the rows
        # themselves are cheap). The kernel accumulates dimension-by-
        # dimension left-to-right from 0.0 — the IDENTICAL summation
        # order as ``_dot_lit_unrolled`` (and DuckDB's
        # list_dot_product), so every sign bit, and hence every
        # bucket, is bit-equal to the expression form and the oracle.
        planes = _hyperplanes(dim, n_planes)
        base = df.select(F.col(id_col), F.col(vec_col))
        from pyspark.sql.types import LongType, StructField, StructType

        bucket_schema = StructType(
            list(base.schema.fields) + [StructField("_bucket", LongType())]
        )

        def add_bucket(batches):
            import numpy as np

            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(
                    [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
                )
                bucket = np.zeros(len(m), dtype=np.int64)
                for j, p in enumerate(planes):
                    acc = np.zeros(len(m), dtype="float64")
                    for i in range(dim):
                        acc = acc + m[:, i] * p[i]
                    bucket += (acc >= 0.0).astype(np.int64) << j
                yield pdf.assign(_bucket=bucket)

        bucketed = base.mapInPandas(add_bucket, bucket_schema)
        out_schema = "id_a bigint, id_b bigint, cos_sim double"

        def bucket_pairs(pdf):
            import numpy as np
            import pandas as pd

            ids = pdf[id_col].to_numpy(dtype="int64")
            order = np.argsort(ids)
            ids = ids[order]
            m = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col].iloc[order]]
            )
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ m.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = sims[iu, ju] >= threshold
            out = pd.DataFrame(
                {
                    "id_a": ids[iu[keep]],
                    "id_b": ids[ju[keep]],
                    "cos_sim": np.round(sims[iu[keep], ju[keep]], round_dp),
                }
            )
            if per_vec_cap is not None and len(out):
                # the vector's ONLY bucket is this one, so the
                # per-vector cap is complete bucket-locally: rounded
                # sim desc, id_b asc (deterministic, oracle-mirrored)
                out = (
                    out.sort_values(
                        ["id_a", "cos_sim", "id_b"],
                        ascending=[True, False, True],
                        kind="mergesort",
                    )
                    .groupby("id_a", sort=False)
                    .head(per_vec_cap)
                )
            return out

        return bucketed.groupBy("_bucket").applyInPandas(
            lambda _key, pdf: bucket_pairs(pdf), out_schema
        )

    # norms fold ONCE per vector, not once per pair side (O(n) folds
    # instead of O(pairs)); identical arithmetic/order, so oracle
    # bit-equality is unchanged
    base = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    dot = _dot_cols(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    sim = dot / (F.col("a._nrm") * F.col("b._nrm"))
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, round_dp).alias("cos_sim"),
            sim.alias("_raw_sim"),
        )
        # threshold on the unrounded value (the rounded column is
        # presentation-only; filtering on it would shift the boundary)
        .filter(F.col("_raw_sim") >= threshold)
        .drop("_raw_sim")
    )
    if per_vec_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("id_a").orderBy(
            F.col("cos_sim").desc(), F.col("id_b").asc()
        )
        pairs = (
            pairs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= per_vec_cap)
            .drop("_rk")
        )
    return pairs


def cosine_near_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
    round_dp: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via blocked matrix multiply.

    The classic distributed-GEMM shape: pack vectors into blocks of
    ``block_size`` (groupBy + collect_list — each block is ~block_size
    × dim × 8 bytes, well under executor memory), join the
    upper-triangle of block pairs, and compute each block-pair's
    block_size² similarities with ONE vectorized numpy matmul inside
    applyInPandas. Only pairs above threshold are emitted, so the
    output (and the shuffle after) stays proportional to the result,
    never to n².

    Compared with the per-pair expression path, this turns 64 FLOPs ×
    n² interpreted expression evaluations into n²/block_size² BLAS
    calls — two orders of magnitude on wall-clock, and each task is
    independent, so it scales linearly with executors.
    """
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    blocks = (
        df.select(
            (F.col(id_col) / block_size).cast("bigint").alias("block_id"),
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .groupBy("block_id")
        .agg(
            F.collect_list(F.col(id_col)).alias("ids"),
            F.collect_list("_v").alias("vecs"),
        )
        .persist()  # consumed by both sides of the block-pair join
    )
    a = blocks.select(
        F.col("block_id").alias("ba"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    b = blocks.select(
        F.col("block_id").alias("bb"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    pairs = a.join(b, F.col("ba") <= F.col("bb"))

    out_schema = "id_a bigint, id_b bigint, cos_sim double"

    def gemm(pdf):
        import numpy as np
        import pandas as pd

        rows = []
        for _, r in pdf.iterrows():
            ids_a = np.asarray(r["ids_a"], dtype=np.int64)
            ids_b = np.asarray(r["ids_b"], dtype=np.int64)
            ma = np.stack(r["vecs_a"])
            mb = np.stack(r["vecs_b"])
            ma /= np.linalg.norm(ma, axis=1, keepdims=True)
            mb /= np.linalg.norm(mb, axis=1, keepdims=True)
            sims = ma @ mb.T
            ia, ib = np.nonzero(sims >= threshold)
            keep = ids_a[ia] < ids_b[ib]  # upper triangle incl. same-block
            ia, ib = ia[keep], ib[keep]
            rows.append(
                pd.DataFrame(
                    {
                        "id_a": ids_a[ia],
                        "id_b": ids_b[ib],
                        "cos_sim": np.round(sims[ia, ib], round_dp),
                    }
                )
            )
        return (
            pd.concat(rows)
            if rows
            else pd.DataFrame(columns=["id_a", "id_b", "cos_sim"])
        )

    return pairs.groupBy("ba", "bb").applyInPandas(gemm, out_schema)


def semdedup_prune(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """SemDeDup pruning (Abbas et al. 2023) at GEMM speed: assign to
    coarse centroids, then ONE vectorized numpy similarity matrix per
    cluster (applyInPandas) finds, for every vector, its strongest
    lower-id neighbor — vectors with such a neighbor ≥ threshold are
    pruned (lowest id is the kept exemplar). Output: one row per
    pruned vector (id, centroid_id, max_sim_to_keeper).

    This is the 100 TB path behind the oracle-exact registry query
    ``emb_semdedup`` (which uses per-pair fold expressions so DuckDB
    can mirror the arithmetic bit-for-bit; pytest pins this kernel
    against it). Cluster count should scale with the corpus (the
    paper's regime keeps mean cluster size roughly constant), so each
    task's sims matrix stays ~(n/k)² — for clusters beyond memory,
    reuse the block-pair decomposition of cosine_near_pairs_blocked
    inside the cluster.
    """
    asg = ivf_assign(df, centroids, id_col, vec_col)
    out_schema = f"{id_col} bigint, centroid_id int, max_sim_to_keeper double"

    def prune(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col].iloc[order]])
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ m.T
        n = len(ids)
        mask = np.tri(n, k=-1, dtype=bool).T  # [i, j] with i < j (id asc)
        best = np.where(mask, sims, -np.inf).max(axis=0)
        keep = best >= threshold
        return pd.DataFrame(
            {
                id_col: ids[keep],
                "centroid_id": pdf["centroid_id"].iloc[0],
                "max_sim_to_keeper": np.round(best[keep], round_dp),
            }
        )

    return asg.groupBy("centroid_id").applyInPandas(
        lambda _key, pdf: prune(pdf), out_schema
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF index build).

    Centroids are parameters (driver-side list, typically k-means of a
    sample); assignment is a literal-folded argmin, one scan, no
    shuffle. Persist partitioned by ``centroid_id`` so queries prune.
    """
    # array-of-structs argmax, NOT a chained when-ladder: the ladder
    # embeds every prior best-sim subtree twice per step (2^k expression
    # growth — measured 155s for one sf1 IVF build). array_max
    # evaluates each cosine exactly once; ties break to the lowest
    # centroid id via the negated-index field, same as the ladder's
    # strict-> comparison. A zero-norm vector's 0/0 sim comes back
    # NULL (Spark non-ANSI divide), NOT NaN — coalesce (not just
    # nanvl) floors it to the ladder's -2.0 sentinel, otherwise every
    # struct carries s=NULL and array_max degrades to comparing the
    # index field, silently assigning centroid 0.
    cands = [
        F.struct(
            F.coalesce(
                F.nanvl(cosine_sim_lit(F.col(vec_col), c), F.lit(-2.0)),
                F.lit(-2.0),
            ).alias("s"),
            F.lit(-ci).alias("ni"),
        )
        for ci, c in enumerate(centroids)
    ]
    best_id = -F.array_max(F.array(*cands))["ni"]
    return df.select(F.col(id_col), F.col(vec_col), best_id.alias("centroid_id"))


def sampled_centroids(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """IVF coarse quantizer from a deterministic data sample: the k
    lowest-id vectors become the centroids (ids are hash-assigned
    upstream, so this is a uniform sample in content terms).

    Two uses: a zero-training IVF-flat quantizer, and — because the
    rule "embedding WHERE vec_id < k" is pure SQL — the variant a
    DuckDB oracle can reproduce exactly, pinning the whole
    assign/probe/search pipeline (see queries_similarity.ann_ivf_topk).
    ``kmeans_centroids`` remains the quality path for balanced lists.
    """
    rows = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    if not rows:
        raise ValueError("sampled_centroids: input has no vectors")
    # NOTE: positional centroid labels (ivf_assign) equal the source
    # vec_ids only when ids are dense from 0 — the oracle queries rely
    # on that property of the driver corpus and select `WHERE vec_id <
    # k`; on sparse ids this function still returns the k lowest-id
    # vectors (orderBy + limit, not a filter).
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-6,
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column, DataFrame-native.

    Per iteration: assignment is a literal-folded argmin (one scan, no
    shuffle — `ivf_assign`), the update is posexplode → groupBy
    (centroid, position) partial-agg means (the exchange carries
    k × dim partial sums, not vectors). Centroids live driver-side
    (k × dim floats — parameters, not data). Deterministic
    initialization from evenly-strided ids; converges on centroid
    movement < ``tol``. This is the index-build step that makes
    `ivf_topk`'s partitions balanced instead of sample-arbitrary.
    """
    # Farthest-point initialization on a deterministic sample: strided
    # ids can alias a periodic cluster structure; max-min-distance
    # seeding cannot put two seeds in one tight cluster.
    sample_rows = df.orderBy(id_col).limit(max(64, 32 * k)).select(vec_col).collect()
    sample = [[float(x) for x in r[vec_col]] for r in sample_rows]
    if not sample:
        raise ValueError("kmeans_centroids: input has no vectors")

    def d2(a: list[float], b: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, b))

    centroids = [sample[0]]
    while len(centroids) < k and len(centroids) < len(sample):
        far = max(sample, key=lambda v: min(d2(v, c) for c in centroids))
        centroids.append(far)

    for _ in range(max_iter):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        updated_rows = (
            assigned.select(
                "centroid_id",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        for r in updated_rows:
            new_centroids[r["centroid_id"]][r["pos"]] = float(r["m"])
        shift = max(
            abs(a - b)
            for cn, co in zip(new_centroids, centroids)
            for a, b in zip(cn, co)
        )
        centroids = new_centroids
        if shift < tol:
            break
    return centroids


def ivf_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    qvec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Probe the nprobe closest centroid partitions, exact top-k inside.

    With the index table partitioned by centroid_id, the probe filter
    is partition pruning — the scan touches nprobe/k of the data.
    """
    qnorm = math.sqrt(sum(x * x for x in qvec)) or 1.0

    def centroid_sim(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(c, qvec)) / (cn * qnorm)

    probe = sorted(
        range(len(centroids)), key=lambda ci: -centroid_sim(centroids[ci])
    )[:nprobe]
    sim = F.round(cosine_sim_lit(F.col(vec_col), qvec), round_dp)
    return (
        indexed.filter(F.col("centroid_id").isin(probe))
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def sq8_topk(
    df: DataFrame,
    qvec: list[float],
    maxabs: float,
    k: int = 10,
    n_cand: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (int8) ANN: candidate top-n_cand by quantized
    integer dot product, exact-cosine rerank to top-k.

    Symmetric quantization q_i = floor(v_i * 127/maxabs + 0.5) maps
    the corpus into [-127, 127]; the candidate score is then a sum of
    64 integer products (< 2^21), exact in a double in ANY summation
    order — which is what lets an external oracle mirror candidate
    selection bit-for-bit (ties broken on id). At scale the win is
    bandwidth: the quantized scan reads 8-bit codes (4x less than
    float32, 8x less than double) and the rerank touches only n_cand
    full-precision rows. floor(x+0.5) instead of round() dodges
    banker's-rounding ambiguity across engines.
    """
    scale = 127.0 / maxabs
    qq = [math.floor(float(x) * scale + 0.5) for x in qvec]
    qdot: Column = F.lit(0.0)
    for i, qi in enumerate(qq):
        qdot = qdot + F.floor(
            F.element_at(F.col(vec_col), i + 1).cast("double") * F.lit(scale)
            + F.lit(0.5)
        ) * F.lit(float(qi))
    cand = (
        df.select(F.col(id_col), F.col(vec_col), qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc(id_col))
        .limit(n_cand)
    )
    sim = F.round(cosine_sim_lit(F.col(vec_col), qvec), 4)
    return (
        cand.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def corpus_maxabs(df: DataFrame, vec_col: str = "embedding") -> float:
    """Global max |component| — the sq8 quantizer's scale denominator.
    One map pass + a max aggregate; the collect is a single double.
    max|x| = max(|min(x)|, |max(x)|) keeps the scan in codegen'd
    builtins instead of an interpreted per-element HOF lambda."""
    v = F.col(vec_col).cast("array<double>")
    return float(
        df.select(
            F.max(
                F.greatest(F.abs(F.array_min(v)), F.abs(F.array_max(v)))
            ).alias("m")
        ).first()["m"]
    )


def _pq_adc_scores(
    df: DataFrame,
    qvec: list[float],
    centroids: list[list[float]],
    maxabs: float,
    n_sub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """PQ encode + asymmetric-distance scoring shared by pq_topk and
    ivf_pq_topk: one Arrow-vectorized map pass (numpy broadcast
    argmin, no shuffle) yielding (id, approx_dist bigint) — every
    subspace distance an exact int64 in the int8-quantized domain, so
    candidate ranking is engine-reproducible bit-for-bit."""
    import numpy as np
    import pandas as pd

    scale = 127.0 / maxabs
    dim = len(qvec)
    sub_d = dim // n_sub
    n_cent = len(centroids)
    C = np.floor(np.asarray(centroids, dtype=np.float64) * scale + 0.5).astype(
        np.int64
    ).reshape(n_cent, n_sub, sub_d)
    qq = np.floor(np.asarray(qvec, dtype=np.float64) * scale + 0.5).astype(
        np.int64
    ).reshape(n_sub, sub_d)
    # dtable[s, c] = ||q_s - centroid_c,s||^2, exact integers
    dtable = ((qq[None, :, :] - C) ** 2).sum(axis=2).T  # (n_sub, n_cent)

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, approx_dist bigint"

    def encode_score(it):
        for pdf in it:
            V = np.floor(
                np.stack(pdf[vec_col].values).astype(np.float64) * scale + 0.5
            ).astype(np.int64).reshape(len(pdf), n_sub, sub_d)
            # (n, n_cent, n_sub): squared dist of each subvector to
            # each centroid's matching subspace
            d = ((V[:, None, :, :] - C[None, :, :, :]) ** 2).sum(axis=3)
            codes = d.argmin(axis=1)  # (n, n_sub); ties -> lowest code
            approx = dtable[np.arange(n_sub)[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "approx_dist": approx}
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode_score, schema=out_schema
    )


def pq_adc_scores_panel(
    df: DataFrame,
    qpanel: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    maxabs: float,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched ADC: PQ-encode the corpus ONCE and score it against a
    panel of queries in the same Arrow pass, yielding (id, qid,
    approx_dist). The batch-eval shape a recall harness needs — the
    expensive step (argmin encoding, n x n_cent x n_sub integer
    broadcast) is paid once, each extra query adds only an
    (n_sub, n_cent) table lookup. Same exact-int64 determinism
    contract as _pq_adc_scores."""
    import numpy as np
    import pandas as pd

    scale = 127.0 / maxabs
    dim = len(qpanel[0][1])
    sub_d = dim // n_sub
    n_cent = len(centroids)
    C = np.floor(np.asarray(centroids, dtype=np.float64) * scale + 0.5).astype(
        np.int64
    ).reshape(n_cent, n_sub, sub_d)
    qids = [qid for qid, _ in qpanel]
    # (Q, n_sub, n_cent) distance tables, exact integers
    dtables = []
    for _, qv in qpanel:
        qq = np.floor(
            np.asarray(qv, dtype=np.float64) * scale + 0.5
        ).astype(np.int64).reshape(n_sub, sub_d)
        dtables.append(((qq[None, :, :] - C) ** 2).sum(axis=2).T)

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, qid bigint, approx_dist bigint"
    sub_idx = np.arange(n_sub)[None, :]

    def encode_score(it):
        for pdf in it:
            V = np.floor(
                np.stack(pdf[vec_col].values).astype(np.float64) * scale + 0.5
            ).astype(np.int64).reshape(len(pdf), n_sub, sub_d)
            d = ((V[:, None, :, :] - C[None, :, :, :]) ** 2).sum(axis=3)
            codes = d.argmin(axis=1)  # (n, n_sub); ties -> lowest code
            yield pd.concat(
                pd.DataFrame(
                    {
                        id_col: pdf[id_col].values,
                        "qid": np.int64(qid),
                        "approx_dist": dt[sub_idx, codes].sum(axis=1),
                    }
                )
                for qid, dt in zip(qids, dtables)
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode_score, schema=out_schema
    )


def _pq_rerank(
    df: DataFrame,
    scored: DataFrame,
    qvec: list[float],
    k: int,
    n_cand: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Cut scored rows to the n_cand best (TakeOrderedAndProject on
    (approx_dist, id)), broadcast the id set back onto the full-
    precision rows, exact-cosine rerank to top-k."""
    cand = (
        scored.orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(n_cand)
        .select(id_col)
    )
    rerank = df.join(F.broadcast(cand), id_col)
    sim = F.round(cosine_sim_lit(F.col(vec_col), qvec), 4)
    return (
        rerank.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def pq_topk(
    df: DataFrame,
    qvec: list[float],
    centroids: list[list[float]],
    maxabs: float,
    k: int = 10,
    n_cand: int = 50,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN in the int8 domain: encode every vector
    as n_sub 4-bit codes (argmin centroid per subspace), score with an
    asymmetric-distance lookup table built from the query, rerank the
    top-n_cand exactly.

    All PQ arithmetic happens on int8-quantized components
    (floor(x*127/maxabs + 0.5)), so every subspace distance is an
    exact int64 — encoding and candidate ranking are deterministic
    and an external SQL engine can mirror them bit-for-bit (argmin
    ties break to the lowest code on both sides). The codebook here
    is data-sampled (caller passes the first len(centroids) vectors),
    mirroring the IVF quantizer convention; a k-means-trained
    codebook drops in without changing this kernel.

    Scale shape: encoding + table lookup is one Arrow-vectorized map
    pass (numpy broadcast argmin — no shuffle, no JVM<->Python row
    loop); memory per vector afterwards is n_sub bytes (codes), the
    PQ compression story. Candidate selection is a
    TakeOrderedAndProject on (approx_dist, id); only n_cand rows see
    full-precision math again.
    """
    scored = _pq_adc_scores(
        df, qvec, centroids, maxabs, n_sub, id_col, vec_col
    )
    return _pq_rerank(df, scored, qvec, k, n_cand, id_col, vec_col)


def ivf_pq_topk(
    indexed: DataFrame,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    qvec: list[float],
    maxabs: float,
    k: int = 10,
    nprobe: int = 3,
    n_cand: int = 50,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse-quantizer routing to nprobe inverted lists, PQ
    asymmetric-distance scoring INSIDE the probed lists only, exact
    rerank of the n_cand survivors — the composed architecture large
    ANN deployments actually serve (FAISS IndexIVFPQ shape; Jégou
    et al., "Product Quantization for Nearest Neighbor Search").

    Scale story, multiplicative: the probe filter on a
    centroid_id-partitioned served store is DIRECTORY pruning (the
    scan opens nprobe of k partition dirs — same plan shape
    ann_ivf_topk pins in tests/test_plans.py), and inside those
    lists the PQ pass reads codes-worth of data per row with no
    shuffle. At 100 TB: nprobe/k of the corpus scanned × n_sub bytes
    per vector scored, full-precision math on n_cand rows only.

    Determinism contract is the intersection of the parents':
    coarse routing breaks centroid ties to the lowest id (driver-side
    argmax over a parameter-sized list), PQ distances are exact
    int64s, candidate/final cuts order by (score, id) — so the SQL
    oracle reproduces recall misses of unprobed lists AND
    quantization-induced candidate misses bit-for-bit.
    """
    qnorm = math.sqrt(sum(x * x for x in qvec)) or 1.0

    def centroid_sim(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(c, qvec)) / (cn * qnorm)

    probe = sorted(
        range(len(coarse_centroids)),
        key=lambda ci: -centroid_sim(coarse_centroids[ci]),
    )[:nprobe]
    probed = indexed.filter(F.col("centroid_id").isin(probe))
    scored = _pq_adc_scores(
        probed, qvec, pq_centroids, maxabs, n_sub, id_col, vec_col
    )
    return _pq_rerank(probed, scored, qvec, k, n_cand, id_col, vec_col)


def gram_matrix(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Gram matrix + column sums — the sufficient
    statistics of PCA/whitening (covariance = (XᵀX − s sᵀ/n)/n).

    The 100 TB shape: each Arrow batch contributes a LOCAL dim×dim
    GEMM (numpy, one partial row per partition), and only the
    dim²-sized partials reduce — the exchange carries
    O(partitions × dim²) floats, never the corpus. The final combine
    is a position-keyed sum (dim² groups). Returns (i, j, xtx, sx_i,
    n) — one row per matrix cell.
    """

    def partial(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim))
        s = np.zeros(dim)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            acc += m.T @ m
            s += m.sum(axis=0)
            n += len(m)
        if n:
            yield pd.DataFrame(
                {
                    "xtx": [acc.flatten().tolist()],
                    "sx": [s.tolist()],
                    "n": [n],
                }
            )

    partials = df.select(vec_col).mapInPandas(
        partial, "xtx array<double>, sx array<double>, n bigint"
    )
    cells = partials.select(
        F.posexplode("xtx").alias("pos", "v"), "sx", "n"
    ).select(
        (F.col("pos") / dim).cast("int").alias("i"),
        (F.col("pos") % dim).cast("int").alias("j"),
        "v",
        F.element_at("sx", (F.col("pos") / dim).cast("int") + 1).alias("si"),
        "n",
    )
    return cells.groupBy("i", "j").agg(
        F.sum("v").alias("xtx"),
        F.sum("si").alias("sx_i"),
        F.sum("n").alias("n"),
    )


def int_gram_partials(
    df: DataFrame, dim: int, vec_col: str = "qv"
) -> list[tuple[list[int], int]]:
    """Integer Gram partials: one (flattened dim×dim int64 GEMM, row
    count) pair PER PARTITION, collected to the driver and reduced
    with arbitrary-precision Python ints. The collect is
    O(partitions × dim²) — sufficient statistics, never vectors —
    the same contract as gram_matrix, in exact integer arithmetic
    (per-element products bounded ≈3.4e11, per-partition sums ≪2⁶³,
    so the numpy int64 GEMM is exact and equals any other summation
    order)."""

    def partial(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim), dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[vec_col]])
            # int64-overflow guard for the per-batch GEMM: each cell of
            # m.T @ m sums len(m) products each ≤ max|v|²; if the bound
            # can't be certified, fall back to exact Python-int sums.
            peak = int(np.abs(m).max()) if m.size else 0
            if peak and len(m) * peak * peak >= 2**62:
                obj = m.astype(object)
                acc = acc.astype(object) + obj.T @ obj
            else:
                acc = acc + m.T @ m
            n += len(m)
        if n:
            yield pd.DataFrame(
                {"g": [[int(x) for x in acc.flatten()]], "n": [n]}
            )

    rows = df.select(vec_col).mapInPandas(
        partial, "g array<long>, n long"
    ).collect()
    return [([int(x) for x in r["g"]], int(r["n"])) for r in rows]


def panel_cosine_scores(
    df: DataFrame,
    qpanel: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine of every row against a literal query panel in ONE
    Arrow pass, yielding (id, qid, raw). np.cumsum's last element is
    the same left-to-right sequential double accumulation as
    F.aggregate / DuckDB list_dot_product (cumsum cannot reassociate
    — it must emit every prefix), so scores are bit-identical to the
    fold form at a fraction of its interpreted-HOF cost (SCALE.md
    round-6 'HOF-fold tax'). Zero-norm rows pin to the -2.0 sentinel
    (numpy NaN vs DuckDB NULL-on-div-0 — both mapped explicitly)."""
    import math

    import numpy as np
    import pandas as pd

    qmat = np.array([qv for _, qv in qpanel], dtype=np.float64)
    qids = [qid for qid, _ in qpanel]
    qnorms = [
        math.sqrt(sum(float(x) * float(x) for x in qv)) for _, qv in qpanel
    ]

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, qid bigint, raw double"

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
            out = []
            for qi, qid in enumerate(qids):
                dot = np.cumsum(X * qmat[qi], axis=1)[:, -1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = dot / (nrm * qnorms[qi])
                raw = np.where(np.isfinite(raw), raw, -2.0)
                out.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].values,
                            "qid": np.int64(qid),
                            "raw": raw,
                        }
                    )
                )
            yield pd.concat(out)

    return df.select(id_col, vec_col).mapInPandas(score, schema=out_schema)


def train_pq_codebooks(
    df: DataFrame,
    maxabs: float,
    n_sub: int = 8,
    n_cent: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    offset: int = 128,
) -> list[tuple[list[int], "object"]]:
    """TRAIN per-subspace PQ codebooks with quantized Lloyd's — the
    emb_kmeans_quantized machinery composed into the index build
    (VERDICT r6 task 3), replacing the vec_id<16 data-prefix stand-in.

    Everything runs in the OFFSET int domain ``floor(x*scale+0.5) +
    offset`` (all values positive), so the centroid-update mean's
    truncating division equals floor division on Spark AND DuckDB —
    the same dodge as emb_kmeans_quantized's +1e6 — and every
    distance/assignment is exact int64, reproducible bit-for-bit by
    an unrolled-CTE SQL oracle. Seeds are the first ``n_cent``
    vectors' subvectors (cid = seed vec_id, labels preserved); empty
    clusters DROP, exactly like the oracle's per-iteration GROUP BY.

    Distributed shape: each Lloyd iteration is ONE Arrow map pass
    (numpy broadcast argmin over all subspaces at once) emitting
    per-partition partial sums — the exchange carries at most
    partitions x (n_sub*n_cent*sub_d) int rows, the sufficient
    statistics, never vectors. Centroids live driver-side between
    iterations (n_sub x n_cent x sub_d ints — parameters).

    Returns one (sorted cid list, int64 ndarray [len(cids), sub_d])
    per subspace, in the offset domain.
    """
    import numpy as np
    import pandas as pd

    scale = 127.0 / maxabs
    dim = len(df.select(vec_col).first()[0])
    sub_d = dim // n_sub

    ov = F.expr(
        f"transform(cast({vec_col} as array<double>), x -> "
        f"cast(floor(x * {scale!r} + 0.5) as bigint) + {offset})"
    )
    e = df.select(F.col(id_col).alias("_id"), ov.alias("_ov"))

    seed_rows = (
        e.filter(F.col("_id") < n_cent).orderBy("_id").collect()
    )
    books: list[tuple[list[int], np.ndarray]] = []
    for s in range(n_sub):
        cids = [int(r["_id"]) for r in seed_rows]
        C = np.array(
            [
                [int(x) for x in r["_ov"][s * sub_d : (s + 1) * sub_d]]
                for r in seed_rows
            ],
            dtype=np.int64,
        )
        books.append((cids, C))

    for _ in range(iters - 1):
        bks = books  # capture for the closure

        def partial_stats(it):
            for pdf in it:
                if pdf.empty:
                    continue
                V = np.stack(pdf["_ov"].values).astype(np.int64).reshape(
                    len(pdf), n_sub, sub_d
                )
                frames = []
                for s in range(n_sub):
                    cids_s, C_s = bks[s]
                    d = ((V[:, s, None, :] - C_s[None, :, :]) ** 2).sum(
                        axis=2
                    )
                    code = d.argmin(axis=1)  # ties -> lowest index =
                    # lowest cid (cids sorted ascending)
                    for ci in np.unique(code):
                        rows = V[code == ci, s, :]
                        frames.append(
                            pd.DataFrame(
                                {
                                    "sub": np.int32(s),
                                    "cid": np.int64(cids_s[ci]),
                                    "pos": np.arange(
                                        sub_d, dtype=np.int32
                                    ),
                                    "psum": rows.sum(axis=0),
                                    "pcnt": np.int64(len(rows)),
                                }
                            )
                        )
                yield pd.concat(frames)

        stats = (
            e.mapInPandas(
                partial_stats,
                schema="sub int, cid bigint, pos int, psum bigint, "
                "pcnt bigint",
            )
            .groupBy("sub", "cid", "pos")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
        for r in stats:
            acc.setdefault((int(r["sub"]), int(r["cid"])), []).append(
                (int(r["pos"]), int(r["s"]), int(r["n"]))
            )
        new_books: list[tuple[list[int], np.ndarray]] = []
        for s in range(n_sub):
            cids_s = sorted(c for (ss, c) in acc if ss == s)
            C_s = np.zeros((len(cids_s), sub_d), dtype=np.int64)
            for ci, c in enumerate(cids_s):
                for pos, tot, n in acc[(s, c)]:
                    C_s[ci, pos] = tot // n  # positive ints: trunc==floor
            new_books.append((cids_s, C_s))
        books = new_books
    return books


def pq_adc_scores_panel_books(
    df: DataFrame,
    qpanel: list[tuple[int, list[float]]],
    books: list[tuple[list[int], "object"]],
    maxabs: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    offset: int = 128,
) -> DataFrame:
    """`pq_adc_scores_panel` for TRAINED per-subspace int codebooks
    (offset domain, possibly ragged after empty-cluster drops): encode
    the corpus once, score the whole panel per pass. Distances are
    offset-invariant, so ADC in the offset domain equals the
    unshifted int8 domain exactly."""
    import numpy as np
    import pandas as pd

    scale = 127.0 / maxabs
    dim = len(qpanel[0][1])
    n_sub = len(books)
    sub_d = dim // n_sub
    qids = [qid for qid, _ in qpanel]
    # per (query, sub): distance table over that sub's codebook rows
    dtables = []
    for _, qv in qpanel:
        qq = (
            np.floor(np.asarray(qv, dtype=np.float64) * scale + 0.5).astype(
                np.int64
            )
            + offset
        ).reshape(n_sub, sub_d)
        dtables.append(
            [
                ((qq[s][None, :] - books[s][1]) ** 2).sum(axis=1)
                for s in range(n_sub)
            ]
        )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, qid bigint, approx_dist bigint"

    def encode_score(it):
        for pdf in it:
            if pdf.empty:
                continue
            V = (
                np.floor(
                    np.stack(pdf[vec_col].values).astype(np.float64) * scale
                    + 0.5
                ).astype(np.int64)
                + offset
            ).reshape(len(pdf), n_sub, sub_d)
            codes = []
            for s in range(n_sub):
                d = ((V[:, s, None, :] - books[s][1][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes.append(d.argmin(axis=1))  # ties -> lowest cid
            yield pd.concat(
                pd.DataFrame(
                    {
                        id_col: pdf[id_col].values,
                        "qid": np.int64(qid),
                        "approx_dist": sum(
                            dt[s][codes[s]] for s in range(n_sub)
                        ),
                    }
                )
                for qid, dt in zip(qids, dtables)
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode_score, schema=out_schema
    )


def ivf_pq_topk_books(
    indexed: DataFrame,
    coarse_centroids: list[list[float]],
    books: list[tuple[list[int], "object"]],
    qvec: list[float],
    maxabs: float,
    k: int = 10,
    nprobe: int = 3,
    n_cand: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_pq_topk` with TRAINED per-subspace codebooks (the
    train_pq_codebooks output) instead of float prototype vectors —
    the fully-trained serving composition. Same probe-prune / ADC /
    rerank shape and determinism contract."""
    import math

    qnorm = math.sqrt(sum(x * x for x in qvec)) or 1.0

    def centroid_sim(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(c, qvec)) / (cn * qnorm)

    probe = sorted(
        range(len(coarse_centroids)),
        key=lambda ci: -centroid_sim(coarse_centroids[ci]),
    )[:nprobe]
    probed = indexed.filter(F.col("centroid_id").isin(probe))
    scored = pq_adc_scores_panel_books(
        probed, [(0, qvec)], books, maxabs, id_col, vec_col
    ).drop("qid")
    return _pq_rerank(probed, scored, qvec, k, n_cand, id_col, vec_col)
