"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``       — exact brute-force top-k neighbors for a set of
                          query vectors: JVM-side ``zip_with``/``aggregate``
                          dot products (whole-stage codegen, no Python),
                          TakeOrdered per query. The correctness baseline.
* ``lsh_ann_topk``      — the scale path: random-hyperplane LSH. Vectors
                          hash to sign-pattern buckets (planes broadcast as
                          literal arrays); candidates = same-bucket vectors
                          (multi-probe via several independent tables);
                          exact cosine re-rank of candidates only.
* ``cosine_near_pairs`` — embedding near-duplicate pairs via LSH buckets +
                          exact verify (never all-pairs).

At 10^12 rows brute force is O(Q·N) — fine for small Q (it's one narrow
scan, no shuffle); the LSH path cuts the scan to matching buckets and is
the default for query sets. All floats computed in float64, rounded to 4dp
at the boundary for cross-engine comparison.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cos_batch(va, vb):
    """Vectorized cosine over two pandas Series of vectors, replicating the
    Column form ``_dot(a,b) / (_norm(a)*_norm(b))`` bit-for-bit: per-element
    float64 products (same IEEE ops) summed LEFT-TO-RIGHT via
    ``np.add.accumulate`` (cumsum — sequential partial sums, exactly the
    ``F.aggregate`` fold), and Spark's non-ANSI null-on-zero-divisor
    semantics preserved (None where the norm product is 0 or an input is
    null)."""
    import pandas as pd

    n = len(va)
    out: list = [None] * n
    av, bv = va.to_numpy(dtype=object), vb.to_numpy(dtype=object)
    ok = [
        i for i in range(n) if av[i] is not None and bv[i] is not None
    ]
    if not ok:
        return pd.Series(out, dtype="float64")
    try:
        A = np.stack([np.asarray(av[i], dtype=np.float64) for i in ok])
        B = np.stack([np.asarray(bv[i], dtype=np.float64) for i in ok])
        if A.shape != B.shape:
            raise ValueError("dim mismatch")
        if A.shape[1] == 0:
            dot = np.zeros(len(ok))
            nn = np.zeros(len(ok))
        else:
            dot = np.cumsum(A * B, axis=1)[:, -1]
            nn = np.sqrt(np.cumsum(A * A, axis=1)[:, -1]) * np.sqrt(
                np.cumsum(B * B, axis=1)[:, -1]
            )
        for j, i in enumerate(ok):
            out[i] = float(dot[j] / nn[j]) if nn[j] != 0.0 else None
    except ValueError:
        # ragged dims in one batch: per-row fold (same arithmetic)
        for i in ok:
            a = np.asarray(av[i], dtype=np.float64)
            b = np.asarray(bv[i], dtype=np.float64)
            if a.size != b.size:
                # zip_with pads the shorter side with nulls → null products
                # → the fold (and so the cosine) is null
                out[i] = None
                continue
            if a.size == 0:
                out[i] = None
                continue
            d = np.cumsum(a * b)[-1]
            m = np.sqrt(np.cumsum(a * a)[-1]) * np.sqrt(
                np.cumsum(b * b)[-1]
            )
            out[i] = float(d / m) if m != 0.0 else None
    return pd.Series(out, dtype="float64")


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity as an Arrow-batched pandas UDF. The old pure-Column
    ``aggregate(zip_with(...))`` fold is NOT whole-stage-codegen'd — higher-
    order lambdas evaluate interpreted per element — and measured ~4× slower
    than handing whole Arrow batches to numpy (guide §4.2). Values are
    bit-identical to the Column form (see _cos_batch)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    return pandas_udf(_cos_batch, DoubleType())(a, b)


def _dot_fold_batch(va, vb, integer: bool):
    """Shared vectorized fold for dot products: float64 left-to-right
    cumsum (bit-identical to the ``F.aggregate`` fold) or exact int64
    (order-free). Nulls and length mismatches → None (zip_with pads the
    shorter side with nulls, nulling the fold); empty arrays → 0 (the
    fold's initial value)."""
    import pandas as pd

    n = len(va)
    out: list = [None] * n
    av, bv = va.to_numpy(dtype=object), vb.to_numpy(dtype=object)
    dt = np.int64 if integer else np.float64
    for i in range(n):
        if av[i] is None or bv[i] is None:
            continue
        a = np.asarray(av[i], dtype=dt)
        b = np.asarray(bv[i], dtype=dt)
        if a.size != b.size:
            continue
        if a.size == 0:
            out[i] = 0 if integer else 0.0
            continue
        out[i] = (
            int((a * b).sum()) if integer
            else float(np.cumsum(a * b)[-1])
        )
    return pd.Series(out, dtype="Int64" if integer else "float64")


def dot_double(a: Column, b: Column) -> Column:
    """Float64 dot product as an Arrow-batched pandas UDF — replaces the
    interpreted ``_dot`` Column fold on hot paths (maxsim); left-to-right
    cumsum keeps the values bit-identical to the Column form."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    return pandas_udf(
        lambda x, y: _dot_fold_batch(x, y, integer=False), DoubleType()
    )(a, b)


def dot_long(a: Column, b: Column) -> Column:
    """Exact int64 dot product (int8 coarse scoring) as a pandas UDF —
    integer addition is exact and order-free, so numpy's sum matches the
    Column fold value-for-value."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    return pandas_udf(
        lambda x, y: _dot_fold_batch(x, y, integer=True), LongType()
    )(a, b)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
    similarity: float | None = None,
) -> DataFrame:
    """Exact top-k: (query_id, vec_id, cos) per query vector, excluding self.
    queries: (query_id, qvec). Broadcast the (small) query side.

    ``similarity`` is the ES knn ``similarity`` cutoff: candidates below
    the minimum cosine are dropped BEFORE the top-k cut (a query may
    return < k rows — ES semantics). Applied to the rounded score so the
    boundary decision is engine-stable."""
    q = queries.select(F.col("query_id"), F.col("qvec"))
    joined = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")).crossJoin(
        F.broadcast(q)
    )
    scored = joined.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        "cos", cosine(F.col("vec"), F.col("qvec"))
    )
    if round_to is not None:
        scored = scored.withColumn("cos", F.round("cos", round_to))
    if similarity is not None:
        scored = scored.filter(F.col("cos") >= float(similarity))
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    )
    return (
        scored.withColumn("rank", w)
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def quantize_embeddings_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — (id, scale,
    qvec): scale = max |v_j| per vector, q_j = floor(v_j/scale·127 + 0.5)
    ∈ [−127, 127] (half-up, engine-portable: same IEEE ops → same
    doubles → same floor on any engine; an all-zero vector quantizes to
    zeros with scale 0). Dequantize as q_j·scale/127.

    The storage tier ANN at scale sits on: 4× smaller vectors (and 8-bit
    SIMD dot products) for the coarse pass, exact float re-rank only for
    the survivors — ES's dense_vector int8 quantized index does exactly
    this. Pure JVM higher-order functions over the scan: no UDF, no
    shuffle, prunes to two columns."""
    v = F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    out = emb.select(
        F.col(id_col), v.alias("_v")
    ).withColumn(
        "scale", F.array_max(F.expr("transform(_v, x -> abs(x))"))
    )
    q = F.expr(
        "transform(_v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS INT))"
    )
    return out.select(
        id_col,
        "scale",
        F.when(
            F.col("scale") == 0.0,
            F.expr("transform(_v, x -> CAST(0 AS INT))"),
        ).otherwise(q).alias("qvec"),
    )


def int8_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """ES quantized dense_vector search, end to end: candidate generation
    on int8-quantized vectors (``quantize_embeddings_int8``), float
    re-rank of the top ``coarse`` survivors per query — exactly the
    quantized-index + rescore_vector oversampling flow (num_candidates ≈
    coarse, oversample ≈ coarse/k).

    The coarse score is the INTEGER dot product of the two int8 vectors,
    rescaled by both scales (q·q'·s·s'/127²) — integers make it exact on
    any engine, and the rescale is three IEEE multiplies in a fixed
    order, so candidate sets are deterministic across engines and
    partitionings (rounded-score + id ordering at the cut, like every
    serving boundary here). Re-rank joins the float vectors back for
    only #queries·coarse rows.

    Scale: the coarse pass reads 4×-smaller vectors (int8 SIMD dot
    products on a real column store) — this operator IS the storage-tier
    win; pair it with IVF lists (ivf_ann_topk) when a full scan per
    query is too much. Returns (query_id, rank, vec_id, cos, approx)."""
    qz = quantize_embeddings_int8(emb, id_col=id_col, vec_col=vec_col)
    zq = quantize_embeddings_int8(
        queries.select(
            F.col("query_id").alias("vec_id"), F.col("qvec").alias("emb")
        ),
        id_col="vec_id",
        vec_col="emb",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qscale"),
        F.col("qvec").alias("qqvec"),
    )
    j = qz.crossJoin(F.broadcast(zq)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # r6: exact int64 pandas dot replaces the interpreted Column fold
    # (integer addition is order-free, so values are identical)
    idot = dot_long(F.col("qvec"), F.col("qqvec"))
    approx = F.round(
        idot.cast("double") * F.col("scale") * F.col("qscale")
        / F.lit(16129.0),  # 127²
        round_to,
    )
    cw = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("approx").desc(), F.col("vec_id").asc()
        )
    )
    cand = (
        j.select("query_id", "vec_id", approx.alias("approx"))
        .withColumn("_cr", cw)
        .filter(F.col("_cr") <= int(coarse))
        .drop("_cr")
    )
    fl = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    qf = queries.select("query_id", F.col("qvec").alias("_qv"))
    rr = (
        cand.join(fl, "vec_id")
        .join(F.broadcast(qf), "query_id")
        .withColumn("cos", F.round(cosine(F.col("_v"), F.col("_qv")), round_to))
    )
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("vec_id").asc()
        )
    )
    return (
        rr.withColumn("rank", w)
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", "vec_id", "cos", "approx")
    )


def maxsim_topk(
    doc_vecs: DataFrame,
    query_vecs: DataFrame,
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Late-interaction retrieval — ColBERT MaxSim (Khattab & Zaharia
    2020), ES's ``rank_vectors`` field with ``maxSimDotProduct``: a doc
    is a BAG of vectors (one per token/chunk), a query likewise, and
    score(q, d) = Σᵢ maxⱼ (qᵢ · dⱼ) — every query vector claims its best
    doc vector. The modern reranker tier between single-vector ANN and
    full cross-encoders.

    Inputs: doc_vecs (doc_id, seq, vec), query_vecs (query_id, seq,
    vec). Plan: broadcast the query bag (|Q|·n_q rows), one JVM
    zip_with/aggregate dot per (doc vector × query vector) — no Python,
    no explosion beyond the |D|·n_q·n_d scored rows — then max per
    (doc, query vector) and sum per doc: two hash aggregations, both
    keyed by doc id (map-side combine). Dots round to ``round_to``
    BEFORE the max so the argmax and the sum (≤ n_q rounded addends)
    are engine-stable; ES's unrounded float would be, too, but not
    reproducible across engines. Top-k ties break on doc_id."""
    q = query_vecs.select(
        F.col("query_id"),
        F.col("seq").alias("_qseq"),
        F.col("vec").alias("_qv"),
    )
    d = doc_vecs.select(
        F.col("doc_id"), F.col("seq").alias("_dseq"), F.col("vec").alias("_dv")
    )
    # r6: vectorized pandas dot (bit-identical fold) — the interpreted
    # Column aggregate/zip_with was the per-pair cost here (guide §4.2)
    dot = F.round(dot_double(F.col("_dv"), F.col("_qv")), round_to)
    per_qvec = (
        d.crossJoin(F.broadcast(q))
        .select("doc_id", "query_id", "_qseq", dot.alias("_dot"))
        .groupBy("doc_id", "query_id", "_qseq")
        .agg(F.max("_dot").alias("_best"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("doc_id").asc()
    )
    return (
        per_qvec.groupBy("doc_id", "query_id")
        .agg(F.round(F.sum("_best"), round_to).alias("maxsim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "maxsim")
    )


def linear_fuse(
    rankings: list[tuple[DataFrame, float]],
    k: int = 10,
    round_to: int = 4,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """The ES ``linear`` retriever with the ``minmax`` normalizer: each
    retriever's top-N scores rescale to [0, 1] within ITS OWN list —
    (s − min)/(max − min) over the list actually passed in, i.e. after
    the top-N cut — then fuse as Σ wᵢ·normᵢ (a doc missing from a list
    contributes 0, ES's convention). A degenerate list (max = min) maps
    to 1.0 for every member — it still attests membership. rrf_fuse is
    the rank-based sibling; this one preserves score GAPS.

    Scale: like rrf_fuse, inputs are top-N relations (tiny), min/max are
    1-row broadcast aggregates, the fuse is one id-keyed reduce-phase
    aggregation. Determinism: inputs carry rounded serving scores, the
    rescale is fixed-order IEEE arithmetic over those, and the final
    sum has ≤ #retrievers addends per doc."""
    from functools import reduce as _reduce

    parts = []
    for r, w in rankings:
        mm = r.agg(
            F.min(F.col(score_col).cast("double")).alias("_mn"),
            F.max(F.col(score_col).cast("double")).alias("_mx"),
        )
        parts.append(
            r.crossJoin(F.broadcast(mm)).select(
                F.col(id_col).alias("doc_id"),
                (
                    F.lit(float(w))
                    * F.when(
                        F.col("_mx") > F.col("_mn"),
                        (F.col(score_col).cast("double") - F.col("_mn"))
                        / (F.col("_mx") - F.col("_mn")),
                    ).otherwise(F.lit(1.0))
                ).alias("c"),
            )
        )
    return (
        _reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("doc_id")
        .agg(F.round(F.sum("c"), round_to).alias("linear_score"))
        .orderBy(F.col("linear_score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )


def _planes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id for a vector under the given hyperplanes —
    pure Column ops: per plane, sign(dot) contributes one bit."""
    bits = []
    for i, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(_dot(vec, lit) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _planes_hash_int(dim: int, n_planes: int, table: int) -> np.ndarray:
    """ENGINE-PORTABLE hyperplanes: coefficient (i, j) of table t is
    hash32(f"{t}:{i}:{j}") − 2³¹ — uniform in ±2³¹, derivable in any engine
    that has md5 (the same portability contract as dedup.hash32), so a SQL
    oracle can reproduce the buckets bit-for-bit (VERDICT r2 §next 3)."""
    from kafka_es_spark.operators.dedup import hash32_py

    return np.array(
        [
            [hash32_py(f"{table}:{i}:{j}") - 2**31 for j in range(dim)]
            for i in range(n_planes)
        ],
        dtype=np.int64,
    )


def lsh_bucket_col_portable(col_name: str, qplanes: np.ndarray) -> Column:
    """Bucket id with INTEGER-EXACT sign decisions: the vector quantizes to
    iv_j = floor(v_j · 10⁶) (identical double→long in every IEEE engine —
    floor is exact, unlike a float dot whose summation order could flip a
    sign at |dot| ≈ ulp) and the dot is a pure int64 sum, order-free. This
    is what makes the ANN entry hash-comparable against a DuckDB oracle.

    Takes a column NAME: the whole bucket is assembled as one SQL
    expression string (one py4j call) — building n_planes × dim literal
    arrays through the Column API costs one JVM round-trip per literal
    (measured ~30 s of driver time for 2×6×64 planes)."""
    iv = (
        f"transform({col_name}, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"
    )
    bits = []
    for i, p in enumerate(qplanes):
        arr = "array(" + ",".join(f"{int(c)}L" for c in p) + ")"
        dot = f"aggregate(zip_with({iv}, {arr}, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return F.expr(" + ".join(bits))


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_to: int | None = 4,
    multiprobe: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: union of candidates from n_tables independent
    sign-LSH tables, exact cosine re-rank. Recall grows with n_tables and
    with multi-probe (query also probes all Hamming-1 buckets — n_planes+1
    probes per table, the standard recall/cost lever when the corpus has
    little cluster structure). Cost stays bucket-sized, never corpus-sized.

    ``portable=True`` switches to md5-derived integer hyperplanes with
    integer-exact sign decisions (see ``lsh_bucket_col_portable``): the
    whole pipeline becomes deterministic ACROSS ENGINES, so a SQL oracle
    can verify it value-for-value; ``seed`` is ignored (tables are keyed by
    index)."""
    dim = len(emb.select(vec_col).first()[0])
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    q = queries.select("query_id", "qvec")
    cands = None
    for t in range(n_tables):
        if portable:
            planes = _planes_hash_int(dim, n_planes, t)
            e = base.withColumn("bucket", lsh_bucket_col_portable("vec", planes))
            qq = q.withColumn("bucket0", lsh_bucket_col_portable("qvec", planes))
        else:
            planes = _planes(dim, n_planes, seed + t)
            e = base.withColumn("bucket", lsh_bucket_col(F.col("vec"), planes))
            qq = q.withColumn("bucket0", lsh_bucket_col(F.col("qvec"), planes))
        if multiprobe:
            probes = F.array(
                F.col("bucket0"),
                *[F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
            )
        else:
            probes = F.array(F.col("bucket0"))
        qq = qq.select("query_id", "qvec", F.explode(probes).alias("bucket"))
        c = e.join(F.broadcast(qq), "bucket").select("query_id", "qvec", "vec_id", "vec")
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.dropDuplicates(["query_id", "vec_id"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.withColumn("cos", cosine(F.col("vec"), F.col("qvec")))
    if round_to is not None:
        scored = scored.withColumn("cos", F.round("cos", round_to))
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    )
    return (
        scored.withColumn("rank", w)
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def _kmeans_centroids(
    sample: np.ndarray, n_clusters: int, n_iter: int = 10, seed: int = 7
) -> np.ndarray:
    """Tiny seeded k-means on unit-normalized vectors (spherical k-means:
    assignment by max dot product, centroid = normalized mean). Runs on a
    driver-side sample — the standard IVF training step; at 10^12 rows the
    sample is still driver-sized (e.g. 256k vectors)."""
    rng = np.random.default_rng(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    c = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(n_iter):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(c.shape[0]):
            m = assign == j
            if m.any():
                v = x[m].mean(axis=0)
                c[j] = v / max(np.linalg.norm(v), 1e-12)
    return c


def _portable_centroids(
    emb: DataFrame, n_clusters: int, id_col: str, vec_col: str
) -> list[list[int]]:
    """ENGINE-PORTABLE IVF coarse quantizer: centroid j is the j-th corpus
    vector ordered by (hash32('ivf:'||id), id) — a deterministic pseudo-
    random sample any engine with md5 reproduces (no RNG state, no k-means
    float accumulation an oracle can't replay). Each centroid is
    L2-normalized with a LEFT-FOLD sum of squares (the exact operation
    order DuckDB's ``list_reduce`` uses, so the doubles are bit-identical)
    and quantized floor(x/‖c‖·10⁶) to int64 — assignment then becomes an
    order-free integer dot, exact in every engine (the sim2 contract,
    VERDICT r3 §next 1)."""
    import math

    from kafka_es_spark.operators.dedup import hash32

    rows = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            hash32(F.concat(F.lit("ivf:"), F.col(id_col).cast("string"))).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(int(n_clusters))
        .collect()
    )
    rows = sorted(rows, key=lambda r: (r["h"], r["vec_id"]))
    out = []
    for r in rows:
        acc = 0.0
        for x in r["vec"]:
            acc += float(x) * float(x)
        nrm = math.sqrt(acc)
        if nrm == 0.0:
            nrm = 1.0
        out.append([int(math.floor((float(x) / nrm) * 1_000_000.0)) for x in r["vec"]])
    return out


def _int_dot(a: list[int], b: list[int]) -> int:
    return sum(x * y for x, y in zip(a, b))


def ivf_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    sample_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_to: int | None = 4,
    portable: bool = False,
) -> DataFrame:
    """IVF approximate top-k — the coarse-quantizer scale path alongside
    sign-LSH: vectors are assigned to their nearest spherical-k-means
    centroid (one vectorized GEMM inside mapInPandas; centroids broadcast
    in the closure), each query probes its ``n_probe`` nearest centroids,
    and only those inverted lists are exact-cosine re-ranked. Scan cost
    drops to ~n_probe/n_clusters of the corpus; recall is tunable via
    n_probe (pytest-asserted vs the exact scorer).

    ``portable=True`` swaps the driver-trained k-means for the md5-derived
    deterministic quantizer (``_portable_centroids``): centroids, cluster
    assignment (integer-exact argmax, ties to the lowest cluster) and query
    probes are all reproducible in SQL, so the driver oracle can verify
    the whole ANN pipeline value-for-value; assignment runs as pure Column
    ops (whole-stage codegen — no Python at all on the corpus scan)."""
    import pandas as pd

    from pyspark.sql import types as T

    if portable:
        return _ivf_ann_topk_portable(
            emb, queries, k=k, n_clusters=n_clusters, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, round_to=round_to,
        )

    sample = np.stack(
        [r[0] for r in emb.select(vec_col).limit(int(sample_size)).collect()]
    ).astype(np.float64)
    cent = _kmeans_centroids(sample, n_clusters, seed=seed)

    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    assign_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("vec", emb.schema[vec_col].dataType, True),
            T.StructField("cluster", T.IntegerType(), False),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            cl = np.argmax(V @ cent.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "vec": pdf["vec"], "cluster": cl}
            )

    assigned = base.mapInPandas(assign, assign_schema)

    qrows = queries.select("query_id", "qvec").collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qvec"], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        top = np.argsort(-(cent @ qv))[:n_probe]
        for c in top:
            probe_rows.append((r["query_id"], list(r["qvec"]), int(c)))
    spark = emb.sparkSession
    probes = local_frame(
        spark, probe_rows,
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("qvec", T.ArrayType(T.DoubleType()), False),
                T.StructField("cluster", T.IntegerType(), False),
            ]
        ),
    )
    cands = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.withColumn("cos", cosine(F.col("vec"), F.col("qvec")))
    if round_to is not None:
        scored = scored.withColumn("cos", F.round("cos", round_to))
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    )
    return (
        scored.withColumn("rank", w)
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def _ivf_ann_topk_portable(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_clusters: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    round_to: int | None,
) -> DataFrame:
    """Portable IVF body: integer-exact assignment + probes (see
    ``ivf_ann_topk(portable=True)``). Corpus assignment is one Column
    expression — quantize once into a ``qv`` column, one integer-dot
    per centroid, argmax via array_position(dots, array_max(dots)) whose
    first-match semantics give the ties-to-lowest-cluster rule both
    engines share."""
    cents = _portable_centroids(emb, n_clusters, id_col, vec_col)

    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    iv = (
        "transform(vec, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"
    )
    base = base.withColumn("qv", F.expr(iv))
    dots = ", ".join(
        "aggregate(zip_with(qv, array("
        + ",".join(f"{c}L" for c in cent)
        + "), (a, b) -> a * b), 0L, (acc, v) -> acc + v)"
        for cent in cents
    )
    assigned = base.withColumn("_dots", F.expr(f"array({dots})")).withColumn(
        "cluster",
        (F.expr("array_position(_dots, array_max(_dots))") - 1).cast("int"),
    ).drop("qv", "_dots")

    # query probes: |Q| rows — pure-int driver arithmetic, same rule
    import math

    from pyspark.sql import types as T

    qrows = queries.select("query_id", "qvec").collect()
    probe_rows = []
    for r in qrows:
        qq = [int(math.floor(float(x) * 1_000_000.0)) for x in r["qvec"]]
        scored = sorted(
            ((_int_dot(qq, c), j) for j, c in enumerate(cents)),
            key=lambda e: (-e[0], e[1]),
        )
        for _, j in scored[:n_probe]:
            probe_rows.append((r["query_id"], list(r["qvec"]), int(j)))
    spark = emb.sparkSession
    probes = local_frame(
        spark, probe_rows,
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("qvec", T.ArrayType(T.DoubleType()), False),
                T.StructField("cluster", T.IntegerType(), False),
            ]
        ),
    )
    cands = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.withColumn("cos", cosine(F.col("vec"), F.col("qvec")))
    if round_to is not None:
        scored = scored.withColumn("cos", F.round("cos", round_to))
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    )
    return (
        scored.withColumn("rank", w)
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def cosine_near_pairs_exact(
    emb: DataFrame,
    min_cos: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-dup pairs by brute-force self-join (the correctness
    baseline the LSH path is measured against; O(N²) — small corpora only)."""
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def cosine_near_pairs_blocked(
    emb: DataFrame,
    min_cos: float = 0.35,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
    max_rows: int | None = 10_000_000,
) -> DataFrame:
    """Exact near-pair join via blocked GEMM — the scale-sane exact tier.

    Vectors are hash-partitioned into ``n_blocks`` blocks; the
    B·(B+1)/2 block pairs are scored as dense float64 matrix products
    inside an Arrow-batched ``applyInPandas`` (numpy BLAS), so the plan
    shuffles each row B+1 times instead of exploding N² join rows, and no
    per-row Python runs anywhere. Size n_blocks so a block (~N/B rows ×
    dim × 8 bytes ×2) fits executor memory; parallelism = B(B+1)/2 tasks.

    Exact all-pairs is inherently O(N²·d) FLOPs — no algorithm avoids that
    at low thresholds on isotropic data (measured here: sign-LSH recall at
    cos≥0.35 is ~0.7 even with 8 tables). Use this operator for the exact
    tier (N up to ~10^7 per shard); at 10^12 rows use a high threshold with
    ``cosine_near_pairs`` (LSH) or ANN and accept documented recall.

    ``max_rows`` ENFORCES that tier boundary (one cheap count job): above
    it the O(N²·d) FLOP budget is a silent scale-killer, so the call raises
    with a pointer to the LSH/ANN tier instead of launching it. Pass
    ``max_rows=None`` only when the quadratic cost is a considered choice.
    """
    import pandas as pd

    from pyspark.sql import types as T

    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_near_pairs_blocked is the exact O(N²·d) tier; got "
                f"N={n} > max_rows={max_rows}. Use cosine_near_pairs (LSH, "
                "high thresholds) or lsh_ann_topk/ivf_ann_topk, or raise "
                "max_rows deliberately."
            )
    B = int(n_blocks)
    base = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int"))
    # each row participates in every block pair containing its block:
    # as the "left" side of (blk, j>=blk) and the "right" side of (i<=blk, blk)
    left = base.select(
        "vec_id", "vec",
        F.col("blk").alias("ka"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("kb"),
        F.lit(0).alias("side"),
    )
    right = base.select(
        "vec_id", "vec",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ka"),
        F.col("blk").alias("kb"),
        F.lit(1).alias("side"),
    )
    tasks = left.unionByName(right)

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType(), False),
            T.StructField("vec_b", T.LongType(), False),
            T.StructField("cos", T.DoubleType(), False),
        ]
    )
    thr = float(min_cos)
    rnd = round_to

    def score_block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ka, kb = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype=np.int64),
                "vec_b": pd.Series(dtype=np.int64),
                "cos": pd.Series(dtype=np.float64),
            }
        )
        if ka == kb:
            sub = pdf[pdf["side"] == 0]
            ids_a = sub["vec_id"].to_numpy(dtype=np.int64)
            if ids_a.size < 2:
                return empty
            Va = np.stack(sub["vec"].to_numpy()).astype(np.float64)
            ids_b, Vb = ids_a, Va
        else:
            a = pdf[pdf["side"] == 0]
            b = pdf[pdf["side"] == 1]
            ids_a = a["vec_id"].to_numpy(dtype=np.int64)
            ids_b = b["vec_id"].to_numpy(dtype=np.int64)
            if ids_a.size == 0 or ids_b.size == 0:
                return empty
            Va = np.stack(a["vec"].to_numpy()).astype(np.float64)
            Vb = np.stack(b["vec"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(Va, axis=1)
        nb = na if ka == kb else np.linalg.norm(Vb, axis=1)
        S = (Va @ Vb.T) / np.outer(na, nb)
        if rnd is not None:
            S = np.round(S, rnd)
        ai, bi = np.nonzero(S >= thr)
        if ka == kb:
            m = ai < bi  # index-space upper triangle: each pair once, no self
            ai, bi = ai[m], bi[m]
        ia, ib = ids_a[ai], ids_b[bi]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "cos": S[ai, bi],
            }
        )

    return (
        tasks.groupBy("ka", "kb")
        .applyInPandas(score_block_pair, out_schema)
        .select("vec_a", "vec_b", "cos")
    )


def cosine_near_pairs(
    emb: DataFrame,
    min_cos: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Embedding near-dup pairs (vec_a < vec_b, cos ≥ min_cos): LSH-bucketed
    candidate generation + exact verify."""
    dim = len(emb.select(vec_col).first()[0])
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    pairs = None
    for t in range(n_tables):
        planes = _planes(dim, n_planes, seed + t)
        e = base.withColumn("bucket", lsh_bucket_col(F.col("vec"), planes))
        a, b = e.alias("a"), e.alias("b")
        p = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.dropDuplicates(["vec_a", "vec_b"])
    return (
        pairs.withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= min_cos)
        .select("vec_a", "vec_b", "cos")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the ES ``rrf``
    retriever that powers hybrid BM25 + kNN search: each input relation
    is one retriever's top-N as (id, rank) rows; the fused score is
    ``Σ 1/(k_rrf + rank)`` over the lists a doc appears in (a missing
    list contributes nothing, exactly ES's convention).

    Scale: rank relations are top-N by construction (tiny), so the
    union + one id-keyed aggregate is reduce-phase work regardless of
    corpus size; the contribution ``1.0/(k_rrf + rank)`` is an exact
    function of the integer rank, so fused scores are bit-identical
    across engines and partitionings. Ties break on id asc."""
    from functools import reduce as _reduce

    parts = [
        r.select(
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank_col))).alias("c"),
        )
        for r in rankings
    ]
    return (
        _reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )


def semdedup(
    emb: DataFrame,
    n_clusters: int = 8,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    round_to: int = 4,
    max_cluster_rows: int | None = 1_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then removing near-duplicates
    WITHIN each cluster — the trick that turns O(N²) semantic dedup into
    O(Σ cᵢ²) with bounded cluster sizes. Deterministic engine rule
    (keep-first): a vector is a duplicate iff some SAME-CLUSTER vector
    with a smaller id has rounded cosine ≥ ``eps``; survivors are
    returned as (vec_id, cluster). The paper keeps the item farthest
    from the centroid; id-ordered keep-first is this engine's documented
    deviation — it needs no float ordering an oracle can't replay.

    Portability: cluster assignment reuses the IVF coarse quantizer's
    md5-derived centroids and integer-exact dot argmax
    (``_portable_centroids``), so a SQL oracle reproduces the clustering
    bit-for-bit; pair scoring rounds to ``round_to`` before the eps
    comparison (the dd6/sim contract).

    Scale: the intra-cluster self-join is the SemDeDup design point —
    size ``n_clusters`` so clusters stay bounded (k ≈ N / 10⁵ in the
    paper); ``max_cluster_rows`` enforces the tier boundary with one
    cheap count (raises with the knob to turn, the dd6 pattern) instead
    of silently planning a quadratic blow-up."""
    cents = _portable_centroids(emb, n_clusters, id_col, vec_col)

    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    iv = (
        "transform(vec, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"
    )
    base = base.withColumn("qv", F.expr(iv))
    dots = ", ".join(
        "aggregate(zip_with(qv, array("
        + ",".join(f"{c}L" for c in cent)
        + "), (a, b) -> a * b), 0L, (acc, v) -> acc + v)"
        for cent in cents
    )
    assigned = (
        base.withColumn("_dots", F.expr(f"array({dots})"))
        .withColumn(
            "cluster",
            (F.expr("array_position(_dots, array_max(_dots))") - 1).cast("int"),
        )
        .drop("qv", "_dots")
    )

    if max_cluster_rows is not None:
        biggest = (
            assigned.groupBy("cluster").count().agg(F.max("count")).collect()[0][0]
        )
        if biggest and biggest > max_cluster_rows:
            raise ValueError(
                f"semdedup: largest cluster has {biggest} rows "
                f"(> max_cluster_rows={max_cluster_rows}); raise n_clusters "
                "so clusters stay bounded (k ~ N/1e5), or raise the guard "
                "explicitly if the quadratic intra-cluster cost is intended"
            )

    other = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
    )
    dup_ids = (
        assigned.join(other, "cluster")
        .filter(F.col("b_id") < F.col("vec_id"))
        .filter(F.round(cosine(F.col("vec"), F.col("b_vec")), round_to) >= eps)
        .select("vec_id")
        .distinct()
    )
    return (
        assigned.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )
