"""Approximate-nearest-neighbor search over an embedding column.

Two tiers (training-data-pipeline ops, beyond the reference's surface):
  * cosine_topk      — brute-force exact top-k: probe x corpus cross join
                       with JVM-side higher-order-function dot products,
                       window top-k. Baseline + correctness oracle.
  * lsh_cosine_topk  — scale path: random-hyperplane (SRP) LSH bucketing;
                       only same-bucket pairs are scored. At 10^12 rows the
                       cross join is impossible; bucketing makes the join
                       equi on (table, bucket) and AQE handles skew.

Plus lsh_cosine_pairs, the all-pairs near-duplicate join over SRP buckets
(lsh_emb_dups / emb_dup_clusters).

Embeddings are array<float>; probe scoring arithmetic (the top-k tiers)
is cast to double and stays in codegen (F.aggregate/F.zip_with). Python
runs where numpy does the work in whole batches:
  * SRP bucketing and IVF cell assignment (_srp_buckets_udf,
    _ivf_cells_udf): a dense matmul against a constant matrix per Arrow
    batch — the expression-tree forms were a measured plan-size
    pathology (see _srp_buckets_udf's docstring);
  * lsh_cosine_pairs' in-bucket scoring (_bucket_pairs): one grouped-map
    call per bucket builds a tiled Gram in the SQL oracle's left-fold
    order, so the cosines are bit-identical to the brute-force twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per probe (excluding self).

    Broadcast the probe side — the corpus never shuffles; each corpus
    partition streams past the in-memory probe table.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv"),
        _norm(F.col(vec_col)).alias("pn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("pv"), F.col("cv"))
                    / (F.col("pn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def _srp_buckets_udf(planes, bits: int):
    """Arrow pandas UDF: embedding -> array<long> of per-table SRP bucket
    ids, ONE numpy matmul per batch ((n, dim) @ (dim, tables*bits), sign,
    bit-pack). Deterministic: the plane matrix is a seeded literal baked
    into the UDF closure.

    Why a UDF here when every other ANN expression is builtin: the
    expression-tree forms are pathological at this fan-out — per-plane
    expressions build n_planes*dim literal nodes (a ~16k-node plan whose
    analysis/codegen took ~50 s for a 2,000-row corpus, measured round 4),
    and a single nested-array literal + higher-order functions stalls the
    analyzer on the 16k-element literal. A dense matmul against a constant
    matrix is exactly the Arrow-batch case; the scoring path (dot/cosine
    of PAIRED rows) stays builtin."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    n_tables = planes.shape[0] // bits
    W = planes.T.copy()                      # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def srp(col: pd.Series) -> pd.Series:
        rows = col.tolist()
        out: list[list[int] | None] = [None] * len(rows)
        valid = [i for i, v in enumerate(rows) if v is not None]
        if valid:
            M = np.asarray([rows[i] for i in valid], dtype=np.float64)
            S = (M @ W) > 0                          # (n, tables*bits)
            B = (S.reshape(len(valid), n_tables, bits)
                 * weights).sum(axis=2)              # (n, tables)
            for j, i in enumerate(valid):
                out[i] = [int(x) for x in B[j]]
        return pd.Series(out)

    return srp


def srp_band_blocks(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", bits: int = 4,
                    n_tables: int = 8, dim: int = 64, seed: int = 42,
                    seed_per_table: bool = False,
                    with_vec: bool = False) -> DataFrame:
    """All SRP tables in ONE pass: -> (block_key, id) rows via a single
    posexplode, the same banding shape as MinHash-LSH (blocking.lsh_blocks).
    One scan, one explode, no per-table union — at 10^9 rows this is one
    shuffle-join key stream instead of n_tables separate plans.

    with_vec=True carries the vector column along: (block_key, id, vec),
    the stream lsh_cosine_pairs scores bucket by bucket. Rows whose vector
    is null get no bucket and so no band row.

    seed_per_table=True draws table t's hyperplanes from its own
    RandomState(seed+t) (first `bits` rows) — the plane family
    lsh_cosine_topk uses. Default False draws all tables from one
    RandomState(seed) stream, the family used by lsh_cosine_pairs (its
    equality oracle pins it)."""
    import numpy as np

    if seed_per_table:
        planes = np.concatenate([
            np.random.RandomState(seed + t).standard_normal((bits, dim))
            for t in range(n_tables)
        ])
    else:
        rng = np.random.RandomState(seed)
        planes = rng.standard_normal((n_tables * bits, dim))
    udf = _srp_buckets_udf(planes, bits)
    # block_key is an 8-byte long (xxhash64 of table+bucket), matching the
    # text path's band keys (blocking.py lsh_blocks): at 10^9+ vectors x 64
    # tables a varchar "t:b" key is avoidable shuffle bytes + string
    # comparisons in the banded self-join. Consumers join on the key only
    # (pair-set oracles pin pairs, not keys), so the encoding is free to be
    # opaque.
    carry = [id_col, vec_col] if with_vec else [id_col]
    return df.select(
        *carry, F.posexplode(udf(F.col(vec_col))).alias("table", "bucket")
    ).select(
        F.xxhash64(F.col("table"), F.col("bucket")).alias("block_key"),
        *carry,
    )


# Gram rows scored at once: a bucket of m vectors holds O(GRAM_TILE * m)
# doubles, not O(m^2)
GRAM_TILE = 256


def _bucket_pairs(cut: float, id_col: str, vec_col: str):
    """Grouped-map body: one SRP bucket (block_key, id, vec rows) ->
    (vec_id_a, vec_id_b, raw) for every in-bucket pair id_a < id_b whose
    unrounded cosine is >= cut.

    The arithmetic is the brute-force SQL cosine's, IEEE op for IEEE op:
    float elements widened to double, dot products and squared norms
    accumulated as a left fold over dims 0..dim-1 (G += a_d (x) a_d, one
    multiply then one add per element — no BLAS reordering or FMA), then
    dot / (sqrt(|a|^2) * sqrt(|b|^2)). A pair's value is therefore the
    same bits in every bucket it shares, and rounding stays JVM-side
    (Spark round is HALF_UP on the decimal form — not numpy's rounding).

    The Gram is built GRAM_TILE rows at a time against the columns at and
    after the tile, so only the upper triangle is computed and a hot
    bucket's working set stays O(GRAM_TILE * m). Zero vectors give 0/0 =
    NaN, which fails the >= cut test here, before any NaN can reach Spark
    (where NaN sorts above every number)."""
    import numpy as np

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        m = len(ids)
        out_a, out_b, out_c = [ids[:0]], [ids[:0]], [np.empty(0)]
        if m > 1:
            # dims x m: each a_d is one contiguous row
            AT = np.vstack(pdf[vec_col].to_numpy()).T.astype(np.float64,
                                                            order="C")
            sq = np.zeros(m)
            for a in AT:
                sq += a * a
            norm = np.sqrt(sq)
            for t in range(0, m - 1, GRAM_TILE):
                G = np.zeros((min(GRAM_TILE, m - t), m - t))
                prod = np.empty_like(G)
                for a in AT:
                    G += np.multiply.outer(a[t:t + GRAM_TILE], a[t:],
                                           out=prod)
                with np.errstate(divide="ignore", invalid="ignore"):
                    C = G / np.multiply.outer(norm[t:t + GRAM_TILE],
                                              norm[t:], out=prod)
                # strict upper triangle of the tile: local col > local row
                r, c = np.nonzero(np.triu(C >= cut, 1))
                out_a.append(ids[t + r])
                out_b.append(ids[t + c])
                out_c.append(C[r, c])
        return pd.DataFrame({"vec_id_a": np.concatenate(out_a),
                             "vec_id_b": np.concatenate(out_b),
                             "raw": np.concatenate(out_c)})

    return score


def lsh_cosine_pairs(df: DataFrame, threshold: float = 0.35,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     bits: int = 4, n_tables: int = 64, dim: int = 64,
                     seed: int = 42) -> DataFrame:
    """Embedding near-dup pairs via bucketed LSH: only same-bucket pairs are
    scored — the 100TB-shaped twin of the brute-force theta join
    (plans/queries.q_emb_cosine_dups). Strong OR-amplification (default 64
    tables x 4 bits) makes recall at `threshold` effectively 1 on small
    corpora, so the brute-force DuckDB SQL is a hard equality oracle.

    Scale dial: bits grows with corpus size (bucket count 2^bits bounds the
    per-bucket pair fan-out); tables buy back the recall that extra bits
    cost.

    Plan shape: ONE shuffle of the band stream (block_key, id, vec), then a
    grouped-map Arrow UDF scores each bucket in place (_bucket_pairs: a
    tiled Gram in the SQL oracle's fold order), so each vector crosses to
    Python once per table and a pair row exists only once it passes a
    superset cut (raw >= threshold - 1e-4). The JVM applies the exact
    rule, round(raw, 4) >= threshold, and the one pair-sized `distinct`
    runs over matched pairs only (a pair recurs in every table it shares).
    A bucket is one Python call: a single huge bucket (e.g. a degenerate
    vector repeated) is bounded in memory by the tile, not in time."""
    from pyspark.sql import types as T

    ids = df.select(id_col, vec_col)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    # the banding UDF inherits the scan's split count: a small single-file
    # corpus runs the matmul on ONE task. Spread it — but only when the
    # scan is actually under-parallel (a 100 TB corpus scan already yields
    # tens of thousands of splits; the split count is known from footer
    # metadata, no job runs).
    if ids.rdd.getNumPartitions() < par:
        ids = ids.repartition(2 * par)
    blocks = srp_band_blocks(ids, id_col, vec_col, bits, n_tables, dim, seed,
                             with_vec=True)
    # the grouping needs no spreading repartition: the band stream carries
    # the vectors, so AQE's coalescing (parallelism-first, 1 MB floor)
    # keeps defaultParallelism post-shuffle partitions for any corpus big
    # enough for the quadratic Gram work to matter.
    id_type = df.schema[id_col].dataType
    schema = T.StructType([T.StructField("vec_id_a", id_type),
                           T.StructField("vec_id_b", id_type),
                           T.StructField("raw", T.DoubleType())])
    scored = blocks.groupBy("block_key").applyInPandas(
        _bucket_pairs(threshold - 1e-4, id_col, vec_col), schema)
    return (
        scored.select("vec_id_a", "vec_id_b",
                      F.round("raw", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def suggest_n_cells(corpus_rows: int) -> int:
    """~sqrt(n) codebook sizing (the standard IVF heuristic: balances the
    centroid scan against inverted-list length — each is ~sqrt(n) work per
    probe). 16 is fine for test corpora; a 10^9-row corpus wants ~32k
    cells, not 16. Clamped to [1, 65536]."""
    return max(1, min(65536, int(round(corpus_rows ** 0.5))))


def ivf_train(corpus: DataFrame, n_cells: int = 16, iters: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int = 64,
              train_sample_mod: int | None = None) -> list[list[float]]:
    """Deterministic k-means coarse quantizer (Lloyd iterations, all
    DataFrame ops): init = the vectors of the n_cells smallest ids
    (data-dependent, seedless, reproducible); each iteration assigns rows
    to their nearest centroid via the batched codebook-matmul UDF
    (_ivf_cells_udf) and recomputes per-dimension means with one
    groupBy. Centroids are k x dim floats — driver-resident by design
    (the coarse codebook of an IVF index is broadcast state, like a
    dimension table).

    train_sample_mod=M trains on the deterministic 1/M subset
    pmod(xxhash64(id), M) == 0 — at 10^9+ rows Lloyd does not need the
    full corpus to place ~sqrt(n) centroids, and the sample cuts every
    training scan by M while the one full-corpus ASSIGNMENT pass
    (ivf_assign) is unchanged. Deterministic: the subset is a fixed
    function of ids. If the sample holds fewer than n_cells rows the
    sample is ignored (full-corpus training) so tiny corpora never train
    a degenerate codebook. None = train on everything.

    Round 6: the SAMPLED path collects the sample once and runs Lloyd in
    driver-side numpy (same init: the n_cells smallest-id sample vectors;
    same assignment rule as _ivf_cells_udf: squared-L2 via
    |c|^2 - 2 v.C with first-minimum tie-break; empty cells keep their
    centroid). The distributed loop ran iters+1 driver-synchronized jobs,
    each planning + codegening a fresh 64-column aggregation — measured
    ~1.5-2 s of serial driver latency per codebook at catalog scale for
    ~1 ms of arithmetic. The sample is bounded driver state by
    construction (1/M of the corpus; choose M so n/M stays collectable —
    the codebook itself is already driver-resident broadcast state).
    Codebook floats may differ from the distributed reduction in final
    ulps (summation order); every consumer is tie-robust (IVF recall is
    partition-complete for any codebook — inv_ivf_recall).
    train_sample_mod=None keeps the distributed loop unchanged.

    Scale shape: training is one sampled scan + driver k-means; the
    full-corpus path stays one scan + one n_cells-group aggregation per
    iteration.
    """
    full = corpus.select(id_col, vec_col)
    if train_sample_mod is not None and train_sample_mod > 1:
        import numpy as np

        rows = (
            full.filter(F.pmod(F.xxhash64(F.col(id_col)),
                               F.lit(train_sample_mod)) == 0)
            .collect()
        )
        if len(rows) >= n_cells:
            ids = np.array([r[id_col] for r in rows])
            M = np.array([r[vec_col] for r in rows], dtype=np.float64)
            C = M[np.argsort(ids, kind="stable")[:n_cells]].copy()
            for _ in range(iters):
                d = (C * C).sum(axis=1)[None, :] - 2.0 * (M @ C.T)
                assign = np.argmin(d, axis=1)  # first-min tie-break,
                # matching _ivf_cells_udf's stable argsort
                for c in range(n_cells):
                    members = M[assign == c]
                    if len(members):
                        C[c] = members.mean(axis=0)
            return [[float(x) for x in row] for row in C]
        # sample too small for the codebook — deterministic full-corpus
        # fallback (the distributed loop below)

    # every Lloyd iteration (and the seed collect) scans the corpus: cache
    # the lean (id, vec) projection for the duration of training instead
    # of re-reading the source per iteration (at scale: iters+1 scans ->
    # one scan + cached reads)
    lean = full.cache()
    try:
        seeds = lean.orderBy(id_col).limit(n_cells).collect()
        centroids = [list(map(float, r[vec_col])) for r in seeds]
        for _ in range(iters):
            cell_udf = _ivf_cells_udf(centroids, n_nearest=1)
            assigned = lean.select(
                vec_col, cell_udf(F.col(vec_col))[0].alias("cell"))
            sums = assigned.groupBy("cell").agg(
                F.count("*").alias("n"),
                *[F.sum(F.col(vec_col)[i].cast("double")).alias(f"s{i}")
                  for i in range(dim)],
            ).collect()
            new = list(centroids)
            for r in sums:
                if r["n"] > 0:
                    new[int(r["cell"])] = [r[f"s{i}"] / r["n"]
                                           for i in range(dim)]
            centroids = new
    finally:
        lean.unpersist()
    return centroids


def _ivf_cells_udf(centroids: list[list[float]], n_nearest: int = 1):
    """Arrow pandas UDF: embedding -> the n_nearest cell ids by squared
    L2 distance to the (constant, driver-resident) codebook — one numpy
    distance matrix per batch, ||v-c||^2 = |v|^2 - 2 v.C + |c|^2, stable
    argsort (distance ties break by cell index, matching the former
    array_sort(struct(d, cell)) expression). Same plan-size rationale as
    _srp_buckets_udf: per-centroid literal expressions built
    n_cells*dim-node trees that dominated small-query wall time."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)          # (cells, dim)
    c_sq = (C * C).sum(axis=1)                           # (cells,)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(col: pd.Series) -> pd.Series:
        rows = col.tolist()
        out: list[list[int] | None] = [None] * len(rows)
        valid = [i for i, v in enumerate(rows) if v is not None]
        if valid:
            M = np.asarray([rows[i] for i in valid], dtype=np.float64)
            d = c_sq[None, :] - 2.0 * (M @ C.T)          # + |v|^2 (const/row)
            order = np.argsort(d, axis=1, kind="stable")[:, :n_nearest]
            for j, i in enumerate(valid):
                out[i] = [int(x) for x in order[j]]
        return pd.Series(out)

    return cells


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Attach the nearest-centroid cell id (0-based) — the IVF inverted
    list key (batched matmul UDF against the broadcast codebook)."""
    udf = _ivf_cells_udf(centroids, n_nearest=1)
    return df.withColumn("cell", udf(F.col(vec_col))[0])


def ivf_cosine_topk(corpus: DataFrame, probes: DataFrame,
                    centroids: list[list[float]], k: int = 10,
                    n_probe: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF search: each probe scans only its n_probe nearest cells —
    the equi-join on cell replaces the cross join, so work scales with
    the probed fraction of the corpus (n_probe / n_cells), the classic
    IVF recall/cost dial. n_probe = n_cells degenerates to exact brute
    force (partition-completeness — the basis of the inv_ivf_recall
    oracle). Top-k per probe via window with deterministic tie-break.
    """
    n_cells = len(centroids)
    probe_cells_udf = _ivf_cells_udf(centroids,
                                     n_nearest=min(n_probe, n_cells))
    pc = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv"),
        _norm(F.col(vec_col)).alias("pn"),
        F.explode(probe_cells_udf(F.col(vec_col))).alias("cell"),
    )
    cc = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      _norm(F.col(vec_col)).alias("cn")), centroids, "cv")
    scored = (
        cc.join(F.broadcast(pc), "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("pv"), F.col("cv"))
                    / (F.col("pn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def lsh_cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    bits: int = 4, n_tables: int = 8, dim: int = 64
                    ) -> DataFrame:
    """Bucketed ANN with multi-table OR-amplification: a pair is a
    candidate if it collides in ANY of `n_tables` independent SRP tables
    (candidate prob = 1-(1-(1-theta/pi)^bits)^n_tables). All tables come
    from ONE srp_band_blocks pass per side — one corpus scan + one explode,
    not n_tables separate corpus scans + unionAll; both sides use the
    seed_per_table plane family. Candidates are distinct'd, vectors
    attached once, scored once, window top-k.

    Recall/cost dial: more bits -> smaller buckets (cheaper, lower recall);
    more tables -> higher recall (linear cost in banding columns, not in
    corpus scans).
    """
    cb = srp_band_blocks(corpus, id_col, vec_col, bits, n_tables, dim,
                         seed=42, seed_per_table=True).withColumnRenamed(
        id_col, "neighbor_id")
    pb = srp_band_blocks(probes, id_col, vec_col, bits, n_tables, dim,
                         seed=42, seed_per_table=True).withColumnRenamed(
        id_col, "probe_id")
    pairs = (
        cb.join(F.broadcast(pb), "block_key")
        .select("probe_id", "neighbor_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .distinct()
    )

    # norms are per-VECTOR quantities: hoist the O(dim) norm fold to the
    # per-vector projections (same as cosine_topk / lsh_cosine_pairs /
    # ivf_cosine_topk) so a neighbor colliding with many probes folds its
    # norm once, not once per candidate-pair row; only the dot is per-pair
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"),
                       _norm(F.col(vec_col)).alias("cn"))
    pv = probes.select(F.col(id_col).alias("probe_id"),
                       F.col(vec_col).alias("pv"),
                       _norm(F.col(vec_col)).alias("pn"))
    scored = (
        pairs.join(cv, "neighbor_id")
        .join(F.broadcast(pv), "probe_id")
        .withColumn(
            "cosine",
            F.round(_dot(F.col("pv"), F.col("cv"))
                    / (F.col("pn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )
