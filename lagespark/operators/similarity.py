"""Similarity search over embedding columns (array<float>).

  cosine_pairs   — all pairs above a cosine threshold (bounded subsets /
                   LSH candidates; exact math)
  cosine_topk    — brute-force top-k neighbors per query: the target matrix
                   is shipped to executors ONCE (closure/broadcast) and each
                   Arrow batch of queries does one (B×D)·(D×N) matmul —
                   vectorized, no per-row Python
  lsh_topk       — scale path: random-hyperplane LSH buckets (seeded,
                   deterministic) + exact refine within bucket; approximate
                   (recall measured in tests vs cosine_topk)
  ivf_topk       — scale path: k-means inverted file, multi-probe queries,
                   bucket equi-join + exact refine
  pq_topk        — scale path: product-quantization codes (~25× smaller than
                   the vectors), asymmetric-distance scan over broadcast
                   query LUTs, exact re-rank of the shortlist

At 10^12 rows the brute-force path holds as long as the TARGET set fits an
executor (N×D floats); beyond that, lsh_topk/ivf_topk bucket both sides so
candidates co-locate in one shuffle, and pq_topk scans the compressed code
column instead of the vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from lagespark.operators.dedup import banded_pairs
from lagespark.operators.spatial import _repartition_for_kernel

_NN_T = ArrayType(
    StructType(
        [
            StructField("nn_id", LongType()),
            StructField("cos", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
)


def _normalized(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _cosine_udf(round_to: int):
    """Row-wise exact cosine of two embedding columns, rounded to
    `round_to` digits — the refine step of every ANN/near-dup path.
    Nondeterministic so a `cos >= threshold` filter is not pushed below
    the kernel repartition, which evaluated the UDF twice."""

    @F.pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalized(np.stack(a.to_numpy()).astype(np.float64))
        mb = _normalized(np.stack(b.to_numpy()).astype(np.float64))
        return pd.Series(np.round(np.sum(ma * mb, axis=1), round_to))

    return cos.asNondeterministic()


def _sign_sketch_udf(planes: int, tables: int, dim: int, seed: int):
    """Seeded random-hyperplane sketches: one int64 bucket per table,
    `t << 59 | sign bits`, so a bucket value names its table too."""
    if tables > 16 or planes > 59:
        raise ValueError("sketch key packs t<<59 | planes: tables<=16, planes<=59")
    pl = np.random.default_rng(seed).normal(size=(tables, planes, dim))

    @F.pandas_udf(ArrayType(LongType()))
    def sketches(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        keys = []
        for t in range(tables):
            signs = (m @ pl[t].T) > 0  # (B, planes)
            # t << 59 (not 60): fits int64 for tables<=16 (15<<59 < 2^63) and
            # stays disjoint from the plane bits; t<<60 overflows for t>=8
            # (NumPy >=2.0 raises OverflowError in the executor UDF)
            val = np.full(len(m), t << 59, dtype=np.int64)
            for j in range(planes):
                val |= signs[:, j].astype(np.int64) << j
            keys.append(val)
        return pd.Series(np.stack(keys, axis=1).tolist())

    return sketches


def _sign_keys(df: DataFrame, id_col: str, vec_col: str, sketches) -> DataFrame:
    """(id, band, bucket, _bks): banded_pairs key rows over the sketch
    array — ONLY the id and the sketch longs reach the bucket exchange,
    never the vector (at scale it would replicate `tables`× per side). The
    sketch UDF evaluates once per row, below the posexplode_OUTER (the
    plain form would infer a size(sketches(v)) > 0 filter — a second UDF
    evaluation)."""
    return df.select(F.col(id_col), sketches(F.col(vec_col)).alias("_bks")).select(
        id_col, F.posexplode_outer("_bks").alias("band", "bucket"), "_bks"
    )


# Hard ceiling on rows collected for the brute-force/exact paths. At D=64
# float64 this is ~1 GiB of matrix — beyond it the exact path would OOM the
# driver/executors, so we fail fast with a pointer to the scale paths.
MAX_EXACT_TARGET_ROWS = 2_000_000


def _broadcast_matrix(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int = MAX_EXACT_TARGET_ROWS
):
    """Collect (ids, normalized matrix) for a BOUNDED target set and ship it
    via sc.broadcast — serialized once per executor, not once per task as a
    closure capture would be. Raises if the set exceeds `max_rows`; the
    unbounded-N paths are lsh_topk / ivf_topk (bucketed shuffle joins)."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"exact similarity path: target set has {n} rows > bound {max_rows}; "
            "use lsh_topk/ivf_topk (bucketed LSH/IVF) for unbounded targets"
        )
    tgt = df.select(id_col, vec_col).toPandas()
    tids = tgt[id_col].to_numpy()
    tmat = _normalized(np.stack(tgt[vec_col].to_numpy()).astype(np.float64))
    sc = df.sparkSession.sparkContext
    return sc.broadcast((tids, tmat))


def cosine_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors. Deterministic tie-break: by (rounded
    cos desc, nn_id asc). Targets are size-guarded and broadcast once per
    executor (exact-baseline path; unbounded N → lsh_topk/ivf_topk)."""
    bc = _broadcast_matrix(targets, id_col, vec_col)

    @F.pandas_udf(_NN_T)
    def nn(qid: pd.Series, qv: pd.Series) -> pd.Series:
        tids, tmat = bc.value
        q = _normalized(np.stack(qv.to_numpy()).astype(np.float64))
        cos = q @ tmat.T  # (B, N)
        cos = np.round(cos, round_to)
        out = []
        for i in range(len(q)):
            row = cos[i]
            mask = tids != qid.iloc[i] if exclude_self else np.ones(len(tids), bool)
            idx = np.flatnonzero(mask)
            # order by (-cos, id): lexsort uses last key as primary
            order = idx[np.lexsort((tids[idx], -row[idx]))][:k]
            out.append(
                [
                    {"nn_id": int(tids[j]), "cos": float(row[j]), "rank": r + 1}
                    for r, j in enumerate(order)
                ]
            )
        return pd.Series(out)

    res = queries.withColumn("nn", nn(F.col(id_col), F.col(vec_col)))
    return res.select(F.col(id_col).alias("qid"), F.explode("nn").alias("m")).select(
        "qid",
        F.col("m.nn_id").alias("nn_id"),
        F.col("m.cos").alias("cos"),
        F.col("m.rank").alias("rank"),
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """All pairs (a < b) with rounded cosine ≥ threshold (near-duplicate
    detection by embedding). One matmul per Arrow batch against the
    size-guarded broadcast matrix — exact-baseline path; for unbounded
    tables generate candidates with lsh_topk-style bucketing and refine."""
    bc = _broadcast_matrix(df, id_col, vec_col)

    out_t = ArrayType(
        StructType([StructField("b", LongType()), StructField("cos", DoubleType())])
    )

    @F.pandas_udf(out_t)
    def matches(qid: pd.Series, qv: pd.Series) -> pd.Series:
        tids, tmat = bc.value
        q = _normalized(np.stack(qv.to_numpy()).astype(np.float64))
        cos = np.round(q @ tmat.T, round_to)
        out = []
        for i in range(len(q)):
            hits = np.flatnonzero((cos[i] >= threshold) & (tids > qid.iloc[i]))
            out.append(
                [{"b": int(tids[j]), "cos": float(cos[i][j])} for j in hits]
            )
        return pd.Series(out)

    res = df.withColumn("m", matches(F.col(id_col), F.col(vec_col)))
    return res.select(F.col(id_col).alias("a"), F.explode("m").alias("m")).select(
        "a", F.col("m.b").alias("b"), F.col("m.cos").alias("cos")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float,
    planes: int = 10,
    tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """SCALE path for embedding near-duplicate pairs (the unbounded-N
    counterpart of cosine_pairs): sign-LSH sketches bucket BOTH sides, the
    candidate set is the bucket self-join (equi-join on the sketch — one
    shuffle, no all-pairs), and candidates refine with the exact cosine.
    Approximate: recall depends on (planes, tables) vs the threshold angle —
    sign-LSH collision prob per table is (1 - θ/π)^planes, OR-amplified
    across tables. Defaults (10 planes × 16 tables) target near-dup
    thresholds: cos ≥ 0.9 → per-table 0.21, recall ≈ 0.98; exact duplicates
    (identical sketches) are always found. Size `planes` ≈ log2(N / desired
    bucket occupancy) — candidate volume per table is Σ k_bucket², so
    buckets must stay small as N grows. Injected-duplicate recall is
    asserted in tests."""
    sketches = _sign_sketch_udf(planes, tables, dim, seed)
    # skinny bucket self-join: ids + sketch longs through the bucket join;
    # embedding vectors join back per side AFTER the min-band dedup (one
    # row per pair, not one per shared bucket)
    pairs = banded_pairs(_sign_keys(df, id_col, vec_col, sketches), tables, on=("bucket",))
    vecs = df.select(F.col(id_col), F.col(vec_col))
    cand = pairs.join(
        vecs.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va")), "a"
    ).join(vecs.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb")), "b")
    cand = _repartition_for_kernel(cand)
    return (
        cand.withColumn("cos", _cosine_udf(round_to)(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def _train_sample_pdf(
    targets: DataFrame,
    id_col: str,
    vec_col: str,
    train_rows: int,
    seed: int,
    oversample: float = 4.0,
) -> pd.DataFrame:
    """Seeded pseudo-random training sample of `train_rows` vectors,
    independent of partition layout.

    Two-stage at scale: a deterministic hash FILTER — keep rows where
    pmod(xxhash64(id, seed), K) = 0 with K sized so ~oversample×train_rows
    survive — prunes the rank input before the top-k (at 10^12 rows a
    full-table orderBy(xxhash64).limit would rank everything just to draw
    4k rows; the filter is a cheap scan-side predicate), then the
    deterministic top-k by the same hash fixes the draw inside the
    filtered set. Why not df.sample(): Spark's sampler seeds PER PARTITION,
    so the drawn rows (hence centroids, hence every ANN result) would
    change with partition count/layout; the hash filter is a pure function
    of the row. limit() alone is wrong too (takes the first partitions —
    on clustered tables the centroids would miss whole regions). Small
    tables (n <= oversample·train_rows) skip the filter stage entirely."""
    n = targets.count()
    base = targets.select(F.col(id_col), F.col(vec_col))
    h = F.xxhash64(F.col(id_col).cast("string"), F.lit(seed))
    k_mod = int(n // (oversample * train_rows))
    if k_mod > 1:
        base = base.filter(F.pmod(h, F.lit(k_mod)) == 0)
    pdf = (
        base.orderBy(h)
        .limit(train_rows)
        .select(vec_col)
        .toPandas()
    )
    if pdf.empty:
        raise ValueError("ANN codebook training: target table is empty")
    return pdf


def kmeans_centroids(
    mat: np.ndarray, k: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Deterministic Lloyd k-means on normalized vectors (numpy, driver-side
    — at 10^12 rows the index trains on a sample, which is standard IVF
    practice). Empty clusters re-seed deterministically."""
    m = _normalized(mat.astype(np.float64))
    rng = np.random.default_rng(seed)
    cent = m[rng.choice(len(m), size=k, replace=False)]
    for _ in range(iters):
        sim = m @ cent.T
        assign = sim.argmax(axis=1)
        for c in range(k):
            sel = m[assign == c]
            if len(sel):
                v = sel.mean(axis=0)
                n = np.linalg.norm(v)
                cent[c] = v / n if n > 0 else cent[c]
            else:
                cent[c] = m[int(rng.integers(0, len(m)))]
    return cent


def ivf_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second ANN scale path
    next to sign-LSH: k-means centroids partition the target space; each
    target lands in ONE bucket (its nearest centroid); each query probes its
    `n_probe` nearest centroids → bucket equi-join → exact cosine refine +
    window rank. At scale both sides shuffle once on the bucket id.
    Defaults are sized for recall >= 0.8 on the near-uniform harness
    embeddings (test-pinned at 0.90 on sf0.001); clustered real corpora
    reach it with a much lower n_probe/n_centroids ratio.

    The k-means index trains on a CAPPED driver-side sample (`train_rows`,
    standard IVF practice) — never the full table: a deterministic
    pmod(xxhash64) filter predicate prunes the scan (pushdown-able; NOT a
    Catalyst Sample node, whose per-partition seeding would tie the draw to
    partition layout), then a seeded xxhash64 top-k inside the filtered set
    fixes the draw deterministically (see _train_sample_pdf)."""
    sample = _train_sample_pdf(targets, id_col, vec_col, train_rows, seed)
    cent = kmeans_centroids(np.stack(sample[vec_col].to_numpy()), n_centroids, seed=seed)

    @F.pandas_udf(LongType())
    def bucket_of(v: pd.Series) -> pd.Series:
        m = _normalized(np.stack(v.to_numpy()).astype(np.float64))
        return pd.Series((m @ cent.T).argmax(axis=1).astype(np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def probes_of(v: pd.Series) -> pd.Series:
        m = _normalized(np.stack(v.to_numpy()).astype(np.float64))
        sim = m @ cent.T
        order = np.argsort(-sim, axis=1)[:, :n_probe]
        return pd.Series(order.astype(np.int64).tolist())

    t = targets.select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("tv")
    ).withColumn("bucket", bucket_of(F.col("tv")))
    q = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("bucket", F.explode(probes_of(F.col("qv"))))
    )
    cand = q.join(t, "bucket").filter(F.col("qid") != F.col("nn_id"))

    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        cand.withColumn("cos", _cosine_udf(6)(F.col("qv"), F.col("tv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "cos", "rank")
    )


def _kmeans_subspace(mat: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Plain (euclidean) Lloyd k-means for a PQ subspace — unlike
    kmeans_centroids this does NOT normalize (subvectors are not unit
    vectors). Deterministic; empty clusters re-seed deterministically."""
    m = mat.astype(np.float64)
    rng = np.random.default_rng(seed)
    cent = m[rng.choice(len(m), size=k, replace=False)]
    for _ in range(iters):
        d2 = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            sel = m[assign == c]
            cent[c] = sel.mean(axis=0) if len(sel) else m[int(rng.integers(0, len(m)))]
    return cent


def pq_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    m_sub: int = 16,
    ks: int = 32,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 100_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Product-quantization ANN (third scale path next to sign-LSH and IVF):

      train   — seeded driver-side sample → per-subspace k-means codebooks
                (m_sub subspaces × ks centroids; standard PQ practice)
      encode  — each target compresses to m_sub small codes (defaults:
                16 subspaces × 5 bits = 10 bytes — a 64-dim float32 vector
                shrinks ~25×), one vectorized pandas UDF pass
      scan    — asymmetric distance computation: per Arrow batch of codes,
                score(q, t) = Σ_m LUT_q[m][code_m] where the per-query
                lookup tables (queries · codebooks, exact on the query side)
                are precomputed driver-side and broadcast; the batch scan is
                ONE fancy-indexing gather + sum — no decompression
      rerank  — per-partition top-`rerank` candidates per query merge
                globally, re-join the TRUE vectors, exact cosine, rank ≤ k

    Why it matters at 100 TB: the scan touches only the code column
    (memory-bandwidth-bound over 16×-compressed data) and the exact math
    only ever runs on rerank·|Q| rows. Approximate — recall vs the exact
    baseline is asserted in tests (rerank is the recall lever)."""
    dim_row = targets.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if dim_row is None:
        raise ValueError("pq_topk: target table is empty (or all vectors NULL)")
    dim = len(dim_row[0])
    assert dim % m_sub == 0, "m_sub must divide the embedding dimension"
    dsub = dim // m_sub

    sample = _train_sample_pdf(targets, id_col, vec_col, train_rows, seed)
    smat = _normalized(np.stack(sample[vec_col].to_numpy()).astype(np.float64))
    books = np.stack(
        [
            _kmeans_subspace(smat[:, m * dsub : (m + 1) * dsub], ks, seed=seed + m)
            for m in range(m_sub)
        ]
    )  # (m_sub, ks, dsub)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(v: pd.Series) -> pd.Series:
        mat = _normalized(np.stack(v.to_numpy()).astype(np.float64))
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        for m in range(m_sub):
            sub = mat[:, m * dsub : (m + 1) * dsub]
            d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1).astype(np.int32)
        return pd.Series(codes.tolist())

    # bounded query set: exact LUTs (Q × m_sub × ks inner products) ride a
    # broadcast — same size discipline as the exact-baseline paths. The
    # count() guard runs BEFORE the driver-side collect (an oversized query
    # table must raise, not OOM the driver first — same ordering as
    # _broadcast_matrix).
    n_q = queries.count()
    if n_q > MAX_EXACT_TARGET_ROWS:
        raise ValueError(
            f"pq_topk: query set has {n_q} rows > broadcast bound "
            f"{MAX_EXACT_TARGET_ROWS}"
        )
    qpdf = queries.select(id_col, vec_col).toPandas()
    qids = qpdf[id_col].to_numpy()
    qmat = _normalized(np.stack(qpdf[vec_col].to_numpy()).astype(np.float64))
    luts = np.stack(
        [qmat[:, m * dsub : (m + 1) * dsub] @ books[m].T for m in range(m_sub)],
        axis=1,
    )  # (Q, m_sub, ks)
    sc = targets.sparkSession.sparkContext
    bc = sc.broadcast((qids, luts))

    coded = _repartition_for_kernel(
        targets.select(F.col(id_col).alias("nn_id"), encode(F.col(vec_col)).alias("codes"))
    )

    def scan(batches):
        bqids, blut = bc.value
        nq = len(bqids)
        for pdf in batches:
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            nn = pdf["nn_id"].to_numpy()
            # ADC: scores[q, t] = Σ_m LUT[q, m, codes[t, m]]
            scores = np.zeros((nq, len(nn)))
            for m in range(m_sub):
                scores += blut[:, m, :][:, codes[:, m]]
            r = min(rerank, len(nn))
            top = np.argpartition(-scores, r - 1, axis=1)[:, :r]  # (Q, r)
            out_q = np.repeat(bqids, r)
            out_t = nn[top].ravel()
            out_s = np.take_along_axis(scores, top, axis=1).ravel()
            yield pd.DataFrame({"qid": out_q, "nn_id": out_t, "adc": out_s})

    # schema follows the actual id dtypes (ids need not be long — e.g.
    # string image_ids); qid comes from the query side, nn_id from targets
    qid_t = queries.schema[id_col].dataType.simpleString()
    nnid_t = targets.schema[id_col].dataType.simpleString()
    cand = coded.mapInPandas(scan, f"qid {qid_t}, nn_id {nnid_t}, adc double")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("nn_id"))
    from pyspark.sql import Window

    wa = Window.partitionBy("qid").orderBy(F.desc("adc"), F.asc("nn_id"))
    short = (
        cand.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= rerank)
        .select("qid", "nn_id")
    )
    # exact re-rank on the shortlist only
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    tv = targets.select(F.col(id_col).alias("nn_id"), F.col(vec_col).alias("tv"))
    pairs = short.join(F.broadcast(qv), "qid").join(tv, "nn_id")

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        pairs.withColumn("cos", _cosine_udf(6)(F.col("qv"), F.col("tv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "cos", "rank")
    )


def lsh_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    planes: int = 4,
    tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign sketches → bucket equi-join
    → exact cosine refine + window rank. Deterministic (seeded planes).
    OR-amplified across `tables` independent sketch tables (each row explodes
    to `tables` bucket keys; candidates dedup before refine) — the standard
    recall lever for sign-LSH. The bucket join is the 100 TB path: both
    sides shuffle on (table, sketch).

    Defaults are sized for recall >= 0.8 on weakly-clustered (near-uniform
    angular) corpora like the harness embeddings — the hardest case for
    sign-LSH (test-pinned at 0.89 on sf0.001). At larger N raise `planes`
    (bucket count = 2^planes caps per-bucket candidate volume) and `tables`
    together; clustered real-world embeddings reach the same recall with
    far fewer tables."""
    sketches = _sign_sketch_udf(planes, tables, dim, seed)
    # skinny two-sided bucket join (same shape as cosine_pairs_lsh): only
    # (id, bucket, sketch longs) ride the ×`tables` explosion through the
    # bucket-join shuffle. Vectors join back per candidate pair AFTER the
    # min-band dedup, one row per pair.
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    tv = targets.select(F.col(id_col).alias("nn_id"), F.col(vec_col).alias("tv"))
    # the broadcast bucket join streams the query keys: spread them (a
    # small query set scans as ONE partition) so the pair expansion and the
    # vector join-back run on every core, not in the scan's single task
    qk = _sign_keys(qv, "qid", "qv", sketches)
    pairs = banded_pairs(
        qk.repartition(qk.sparkSession.sparkContext.defaultParallelism),
        tables,
        right=_sign_keys(tv, "nn_id", "tv", sketches),
        on=("bucket",),
    ).select(F.col("a").alias("qid"), F.col("b").alias("nn_id"))
    cand = _repartition_for_kernel(pairs.join(qv, "qid").join(tv, "nn_id"))

    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        cand.withColumn("cos", _cosine_udf(6)(F.col("qv"), F.col("tv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "cos", "rank")
    )
