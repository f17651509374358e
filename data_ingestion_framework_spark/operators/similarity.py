"""Similarity search over embedding columns.

Beyond-reference surface (BASELINE.json north star): brute-force cosine
top-k as the exact baseline, plus an LSH-bucketed approximate variant as
the 100 TB path.

Scale design: queries are a *small* set broadcast to every partition —
the corpus never self-joins. The dot product / norm math is pure array
expressions (``zip_with`` + ``aggregate``), JVM-side; the top-k is a
per-query window over the (few) query partitions. The random-hyperplane
LSH variant replaces the full scan with an equi-join on bucket
signatures for ANN at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_framework_spark.functions.sql_dialect import qident
from data_ingestion_framework_spark.session import local_frame


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    da, db = _to_double(a), _to_double(b)
    denom = l2_norm(da) * l2_norm(db)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(da, db) / denom)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set, score
    every (query, corpus) pair scan-side, keep k per query via window.

    Similarities are rounded before ranking so ordering (and therefore
    the result set) is reproducible across engines; ties break on the
    corpus id. One shuffle total (the per-query window). Norms are
    hoisted to once-per-row on each side (bit-identical to cosine()'s
    fold) — the corpus norm never recomputes per query.
    """
    qdv = _to_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        qdv.alias("__qv"),
        l2_norm(qdv).alias("__qn"),
    )
    cdv = _to_double(F.col(vec_col))
    denom = F.col("__qn") * F.col("__cn")
    scored = (
        _spread(corpus)
        .withColumn("__cn", l2_norm(cdv))
        .crossJoin(F.broadcast(q))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("__qv"), cdv) / denom
                ),
                round_to,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.where(F.col(query_id_col) != F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (hash-derived, no RNG
    state) for sign-LSH."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            # xorshift-style integer mix of (seed, p, d) → [-1, 1)
            x = (seed * 1_000_003 + p * 10_007 + d * 101) & 0xFFFFFFFF
            x ^= (x >> 13)
            x = (x * 0x5BD1E995) & 0xFFFFFFFF
            x ^= (x >> 15)
            row.append((x / 2**31) - 1.0)
        planes.append(row)
    return planes


from data_ingestion_framework_spark.operators.skew import (  # noqa: E402
    spread_for_compute as _spread,
)


def _matrix_sql(rows: list[list[float]]) -> str:
    """The ``array<array<double>>`` literal as SQL text — the building
    block :func:`matrix_literal` parses, exposed so the composite
    expression builders below can INLINE it into their own single
    ``F.expr`` string instead of paying a separate round-trip."""
    for r in rows:
        for x in r:
            if x != x or x in (float("inf"), float("-inf")):
                raise ValueError(f"non-finite matrix literal value: {x}")
    body = ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in r) + ")" for r in rows
    )
    return f"array({body})"


def matrix_literal(rows: list[list[float]]) -> Column:
    """``array<array<double>>`` literal built from ONE parsed expression.

    Constructing a k×d constant matrix as ``F.array(*[F.lit(x) ...])``
    costs k·d Py4J round-trips plus a k·d-node Catalyst tree — for a
    16×64 hyperplane set that is ~1 s of driver time per query BUILD
    (the dominant cost of the small-dim ANN queries, since the data-side
    work is milliseconds). One ``F.expr`` string is a single round-trip
    and parses in ~10 ms; ``repr`` of a Python float round-trips exactly
    through Spark's double-literal parser (shortest-repr law), so the
    values are bit-identical to the ``F.lit`` form the oracles assume.
    """
    return F.expr(_matrix_sql(rows))


# --- SQL-text twins of the array-math primitives (r16 opt) -----------------
#
# The Column builders below (``dot``/``l2_norm``/``cosine``/``_sq_l2``)
# construct their folds through pyspark lambda plumbing: every operator
# inside a higher-order-function body is one Py4J round-trip (~1 ms), so
# a composite like the per-subspace PQ argmin costs ~75 ms of DRIVER
# time per construction — and the ANN operators rebuild them once per
# Lloyd iteration / encode / probe site (measured r16 §1: 0.1–0.3 s per
# builder call, ~half the wall time of the ANN bench lines at sf0.1).
# The *_sql twins emit the same expression as TEXT; the top-level
# builders parse ONE string (a single round-trip, ~10 ms). Value
# identity: the SQL forms parse to the same Catalyst operators with the
# same literal values (float text via ``repr`` — the shortest-repr law
# ``matrix_literal`` already relies on), pinned bit-for-bit by
# tests/test_expr_sql_twins.py against frozen copies of the lambda
# builders, and end-to-end by the unchanged DuckDB oracles.

def _dv_sql(arr: str) -> str:
    """SQL twin of ``_to_double``."""
    return f"transform({arr}, x -> cast(x as double))"


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of :func:`dot` (left-to-right sum, double zero seed)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _l2_sql(a: str) -> str:
    """SQL twin of :func:`l2_norm`."""
    return (
        f"sqrt(aggregate({a}, cast(0.0 as double), "
        "(acc, x) -> acc + x * x))"
    )


def _cos_sql(a: str, b: str) -> str:
    """SQL twin of :func:`cosine` (same double casts, same
    zero-denominator contract)."""
    da, db = _dv_sql(a), _dv_sql(b)
    denom = f"({_l2_sql(da)} * {_l2_sql(db)})"
    return (
        f"(case when {denom} = 0 then cast(0.0 as double) "
        f"else {_dot_sql(da, db)} / {denom} end)"
    )


def _sq_l2_sql(a: str, b: str) -> str:
    """SQL twin of :func:`_sq_l2`."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p = 1 iff vec · plane_p > 0.

    The plane matrix is one literal (see ``matrix_literal``); the bucket
    folds most-significant-bit-first (Horner: acc·2 + bit), which equals
    the Σ bit_p·2^p sum exactly — integer math, no rounding concerns.
    """
    dv = _to_double(vec)
    bits = F.transform(
        matrix_literal(planes),
        lambda plane: F.when(dot(dv, plane) > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    return F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc * F.lit(2).cast("bigint") + b,
    )


def jl_random_matrix(
    in_dim: int, out_dim: int, seed: int = 7
) -> list[list[float]]:
    """Sparse Johnson-Lindenstrauss projection matrix (Achlioptas 2003):
    entries drawn from {+1, 0, -1} with probabilities {1/6, 2/3, 1/6}
    from a seeded PRNG — deterministic, so the oracle injects the SAME
    literals. The √(3/out_dim) scale factor is dropped deliberately:
    cosine similarity is scale-invariant, and every consumer here
    scores by cosine."""
    import random

    rng = random.Random(seed)
    out = []
    for _ in range(out_dim):
        row = []
        for _ in range(in_dim):
            r = rng.random()
            row.append(1.0 if r < 1 / 6 else (-1.0 if r > 5 / 6 else 0.0))
        out.append(row)
    return out


def jl_project(
    df: DataFrame,
    matrix: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "jl_vec",
    round_to: int = 4,
) -> DataFrame:
    """Project an embedding column through a constant JL matrix —
    dimensionality reduction BEFORE the ANN stage (the 100 TB pipeline
    move: a 64→16 projection cuts every downstream shuffle, index and
    score by 4× while JL preserves pairwise geometry to within ε).
    Pure scan-side expressions: the matrix is one literal
    (``matrix_literal``), each output coordinate one zip-multiply fold,
    rounded to ``round_to`` dp so both engines score IDENTICAL
    projected vectors downstream (the package's cos_sim discipline).
    Composes with every consumer of an ``array<double>`` column:
    ``cosine_topk``, the IVF family, ``semantic_dedup``."""
    m = matrix_literal(matrix)
    dv = _to_double(F.col(vec_col))
    proj = F.transform(m, lambda row: F.round(dot(dv, row), round_to))
    return df.withColumn(out_col, proj)


def cosine_verify_pairs(
    corpus: DataFrame,
    cands: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact-cosine verification of an ``(id_a, id_b)`` candidate frame
    — the embedding analogue of ``dedup.verify_candidate_pairs``. Only
    candidate pairs re-join the vectors; the corpus never self-joins."""
    dv = _to_double(F.col(vec_col))
    a = corpus.select(
        F.col(id_col).alias("id_a"), dv.alias("__va"), l2_norm(dv).alias("__na")
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), dv.alias("__vb"), l2_norm(dv).alias("__nb")
    )
    denom = F.col("__na") * F.col("__nb")
    pair_cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("__va"), F.col("__vb")) / denom
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", F.round(pair_cos, round_to))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dups(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup variant of
    similarity search): sign-LSH self-join on bucket signature, exact
    cosine verification ≥ threshold. High-cosine pairs almost always
    share all hyperplane signs, so the bucket equi-join keeps recall
    high while cutting the O(n²) pair space by ~2^planes."""
    planes = random_hyperplanes(dim, n_planes)
    dv = _to_double(F.col(vec_col))
    # cast + norm once per ROW (materialized by the bucket-keyed
    # exchange); per-PAIR work is a single dot product. Same float ops
    # in the same order as cosine(), so values are unchanged.
    b = _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col),
        dv.alias("__v"),
        l2_norm(dv).alias("__n"),
        lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    left = b.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        F.col("__bucket"),
    )
    right = b.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.col("__bucket"),
    )
    denom = F.col("__na") * F.col("__nb")
    pair_cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("__va"), F.col("__vb")) / denom
    )
    return (
        left.join(right, ["__bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(pair_cos, round_to))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: sign-LSH buckets both sides, scores only
    same-bucket pairs (equi-join on bucket), then per-query top-k.
    Recall < 1.0 by construction; the 100 TB variant of cosine_topk —
    the cross-join is replaced by a bucket equi-join, so cost scales
    with collision counts, not |corpus| × |queries|."""
    planes = random_hyperplanes(dim, n_planes)
    c = _spread(corpus).withColumn("__bucket", lsh_bucket(F.col(vec_col), planes))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    scored = c.join(F.broadcast(q), "__bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("__qv"), F.col(vec_col)), round_to).alias("cos_sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.where(F.col(query_id_col) != F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# -- IVF (inverted-file) ANN -------------------------------------------------

def _nearest_cells(
    vec_col: str, centroids: list[list[float]], nprobe: int
) -> Column:
    """Array of the ``nprobe`` nearest centroid ids by cosine (ties on
    cell id), over the named vector column. The WHOLE expression —
    centroid matrix literal, per-cell cosine (zip_with product,
    left-to-right aggregate, sqrt norms, round to 6), sort, probe slice
    — is ONE parsed ``F.expr`` string (r16 opt: the lambda-built form
    cost ~0.1 s of Py4J round-trips per construction, re-paid on every
    Lloyd iteration / encode / probe site). Op-for-op the same Catalyst
    operators as the lambda form (pinned by
    tests/test_expr_sql_twins.py), so cell assignments are unchanged
    and the DuckDB oracles still match."""
    dv = _dv_sql(qident(vec_col))
    # cosine(dv, c): `cosine` re-casts BOTH sides to double exactly as
    # the Column form did (a double→double transform is value-neutral
    # but kept so the twin test compares identical shapes)
    scored = (
        f"transform({_matrix_sql(centroids)}, (c, i) -> "
        f"struct(-round({_cos_sql(dv, 'c')}, 6) as d, i as cell))"
    )
    return F.expr(
        f"transform(slice(array_sort({scored}), 1, {int(nprobe)}), "
        "s -> s.cell)"
    )


def _training_sample(
    corpus: DataFrame, id_col: str, n: int
) -> DataFrame:
    """Deterministic md5-rank training sample, localCheckpointed so the
    Lloyd iterations re-read ``n`` cached rows instead of re-scanning
    the corpus. The sample shares the seed ordering (lowest md5(id)
    first), so seeds are simply the sample's prefix. At 100 TB this is
    the only sane k-means input — FAISS and every production IVF/PQ
    build train on a bounded sample; the assignment/encode passes still
    scan the full corpus exactly once."""
    return (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n)
        .localCheckpoint()
    )


def _round6_half_up(x: float) -> float:
    """Python twin of Spark's ``F.round(col, 6)`` (BigDecimal HALF_UP
    over the double's shortest decimal repr) — used so driver-side
    Lloyd assignment ranks EXACTLY like the scan-side expression."""
    import decimal

    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _local_cos6(v: list[float], c: list[float]) -> float:
    """Sequential-sum cosine rounded to 6 — op-for-op the scan-side
    ``F.round(cosine(...), 6)`` (left-to-right aggregate sums, same
    IEEE order, same zero-denominator contract)."""
    import math

    dp = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(v, c):
        dp += x * y
        na += x * x
        nb += y * y
    denom = math.sqrt(na) * math.sqrt(nb)
    return _round6_half_up(0.0 if denom == 0 else dp / denom)


def _local_sql2_6(v: list[float], c: list[float]) -> float:
    """Sequential-sum squared L2 rounded to 6 (twin of ``_sq_l2``)."""
    s = 0.0
    for x, y in zip(v, c):
        s += (x - y) * (x - y)
    return _round6_half_up(s)


def _local_means(
    members: dict[int, list[list[float]]], prev: list[list[float]]
) -> list[list[float]]:
    """Per-cluster element means; clusters that lost every member keep
    their previous centroid (the distributed jobs' contract)."""
    out = []
    for c, centroid in enumerate(prev):
        rows = members.get(c)
        if not rows:
            out.append(centroid)
            continue
        n = len(rows)
        out.append([sum(r[p] for r in rows) / n for p in range(len(rows[0]))])
    return out


def _ivf_lloyd_local(
    vecs: list[list[float]], n_cells: int, iters: int
) -> list[list[float]]:
    """Driver-side Lloyd over a collected training sample — assignment
    is op-for-op the scan-side expression (sequential-sum cosine,
    HALF_UP round to 6, cell-id ties), seeds are the sample prefix."""
    centroids = [list(v) for v in vecs[:n_cells]]
    for _ in range(iters):
        members: dict[int, list[list[float]]] = {}
        for v in vecs:
            best = min(
                range(len(centroids)),  # corpus may be < n_cells, like
                key=lambda c: (-_local_cos6(v, centroids[c]), c),  # the
            )  # distributed path's seed-limited centroid list
            members.setdefault(best, []).append(v)
        centroids = _local_means(members, centroids)
    return centroids


def _pq_lloyd_local(
    vecs: list[list[float]], m: int, k: int, iters: int
) -> list[list[list[float]]]:
    """Driver-side per-subspace Lloyd (squared-L2 argmin, code ties)."""
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    subvecs = [
        [v[s * dsub : (s + 1) * dsub] for v in vecs] for s in range(m)
    ]
    books = [[list(sv) for sv in subvecs[s][:k]] for s in range(m)]
    for _ in range(iters):
        new_books = []
        for s in range(m):
            members: dict[int, list[list[float]]] = {}
            for sv in subvecs[s]:
                best = min(
                    range(len(books[s])),
                    key=lambda c: (_local_sql2_6(sv, books[s][c]), c),
                )
                members.setdefault(best, []).append(sv)
            new_books.append(_local_means(members, books[s]))
        books = new_books
    return books


def _collect_training_sample(
    corpus: DataFrame, id_col: str, vec_col: str, n: int
) -> list[list[float]]:
    rows = (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def ivf_train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    seeds: list[list[float]] | None = None,
) -> list[list[float]]:
    """Deterministic k-means centroids for the IVF index.

    Init: the ``n_cells`` corpus vectors with the lowest
    ``md5(id)`` (a deterministic pseudo-random sample — no RNG state,
    stable across runs, and reproducible by any engine with md5 — the
    driver's DuckDB oracle re-derives the same seeds). Each Lloyd
    iteration assigns rows to their nearest centroid scan-side and
    recomputes means via ``posexplode → groupBy(cell, pos) → avg``:
    the only driver-side data is the (n_cells × dim) centroid table
    itself — control-plane sized by construction, never the corpus.

    ``train_sample=N`` bounds every training pass to the N corpus rows
    with the lowest ``md5(id)`` (deterministic, engine-reproducible) —
    the 100 TB shape: index TRAINING on a cached sample, while cell
    assignment at build/query time still covers the full corpus."""
    corpus = _spread(corpus.select(id_col, vec_col))
    if train_sample is not None:
        if train_sample < n_cells:
            raise ValueError("train_sample must be >= n_cells")
        # FAISS's actual model: bounded training data is CONTROL-PLANE
        # sized, so collect the sample once and run Lloyd driver-side —
        # one Spark action total instead of one scan per iteration.
        # Assignment uses the exact scan-side semantics, so the result
        # is interchangeable with the distributed path's (pinned by
        # test_sampled_training_local_matches_distributed).
        vecs = _collect_training_sample(corpus, id_col, vec_col, train_sample)
        return _ivf_lloyd_local(vecs, n_cells, iters)
    if seeds is not None:
        # caller already holds the md5-ordered seed prefix (a fused
        # build collects it once for both Lloyd recursions) — skip
        # this build's seed scan+TakeOrdered job
        centroids = [list(map(float, v)) for v in seeds[:n_cells]]
    else:
        seed_rows = (
            corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(n_cells)
            .collect()
        )
        centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]
    for _ in range(iters):
        # two selects: a generator (posexplode) in the same projection
        # as the struct-lambda assignment makes Spark's generator
        # rewrite canonicalize the struct field names away
        # (FIELD_NOT_FOUND on `cell`)
        assigned = corpus.select(
            _nearest_cells(vec_col, centroids, 1)[0].alias("__cell"),
            vec_col,
        ).select(
            "__cell", F.posexplode(_to_double(F.col(vec_col))).alias("__pos", "__x")
        )
        means = (
            assigned.groupBy("__cell", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])] if c in by_cell else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def cell_assignments(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell id per corpus vector — the coarse
    quantizer's assignment pass as a standalone frame ``(id, cell)``.

    This is the clustering half of SemDeDup (Abbas et al. 2023) and
    the partition step every cluster-as-domain treatment starts from
    (DoGE/DoReMi-style mixing over LEARNED domains when no source
    label exists): train centroids once (``ivf_train_centroids``),
    then one scan assigns every vector to its argmax-cosine cell —
    ties on the lower cell id, cosines rounded to 6 decimals first,
    exactly the ``_nearest_cells`` semantics every IVF oracle
    replays. Pure scan-side projection: the centroid matrix rides in
    the plan as one literal, no shuffle, no UDF."""
    return _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col),
        _nearest_cells(vec_col, centroids, 1)[0].alias("cell"),
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their nearest
    centroid's cell; each query probes its ``nprobe`` nearest cells and
    scores only those cells' members (equi-join on cell id). The 100 TB
    shape: cost scales with |corpus| × nprobe / n_cells instead of
    |corpus| × |queries|, and the cell assignment is a pure scan-side
    expression — the index "build" ships no data anywhere."""
    # norms hoisted before the probe join: computed once per ROW on
    # each side, never per candidate pair — bit-identical scores (the
    # same l2_norm fold cosine() would run)
    cdv = _to_double(F.col(vec_col))
    c = _spread(corpus).select(
        "*",
        l2_norm(cdv).alias("__cn"),
        _nearest_cells(vec_col, centroids, 1)[0].alias("__cell"),
    )
    qdv = _to_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        qdv.alias("__qv"),
        l2_norm(qdv).alias("__qn"),
        F.explode(_nearest_cells(vec_col, centroids, nprobe)).alias("__cell"),
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = c.join(F.broadcast(q), "__cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            F.when(denom == 0, F.lit(0.0)).otherwise(
                dot(F.col("__qv"), _to_double(F.col(vec_col))) / denom
            ),
            round_to,
        ).alias("cos_sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    # no dedup needed: a corpus row lives in exactly one cell and a
    # query's probed cells are distinct, so (q, doc) appears at most once
    return (
        scored.where(F.col(query_id_col) != F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


IVF_INDEX_CURSOR_PROP = "ivf_index_cursor_seq"


def ivf_index_refresh(
    emb_table,
    index_table,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cursor_prop: str = IVF_INDEX_CURSOR_PROP,
) -> dict:
    """Incrementally maintain a CELL-PARTITIONED IVF index table over an
    append-only embeddings table: the first call assigns the whole
    corpus; later calls read only the commits after the stored cursor
    (``ParquetTable.read_since`` — cost proportional to NEW vectors,
    never the corpus) and append just their ``(id, vec, cell)`` rows.
    The index table is partitioned by ``cell`` on disk, so probe-time
    scans prune to nprobe directories — the disk-layout form of the
    IVF invariant (:func:`ivf_index_probe_topk` reads it back with
    ``PartitionFilters`` doing the cell selection).

    The cursor (last folded commit seq) lives in the index table's
    properties AND rides each append's commit metrics, the same
    crash-safe discipline as ``operators/incremental.py``: a crash
    between append and property write is healed by re-reading the last
    commit's recorded cursor. Returns ``{"rows_indexed": n,
    "cursor_seq": seq}``. Centroids are frozen at build time (the
    FAISS model: retrain + rebuild is a new index)."""
    if not emb_table.exists():
        raise ValueError(
            f"ivf_index_refresh: embeddings table {emb_table.path} does "
            "not exist"
        )
    props = index_table.properties() if index_table.exists() else {}
    last = props.get(cursor_prop)
    if index_table.exists():
        # Heal EVERY refresh, not just a missing property: a crash
        # between append and set_properties leaves the property stale
        # while the commit metrics carry the true cursor.  Like
        # incremental.py, the winner is max(property, recorded) — so a
        # second crash in a row can't double-append the same delta.
        # last_commit_with_metric parses newest-first and stops at the
        # first hit (every index append stamps the cursor), so the heal
        # is O(1) per refresh — a streaming sink calls this once per
        # micro-batch, and a full-history replay here grows quadratic
        # over a long-lived stream.
        rec = index_table.last_commit_with_metric(cursor_prop)
        if rec is not None:
            recorded = int(rec["metrics"][cursor_prop])
            last = recorded if last is None else max(int(last), recorded)
    current_seq = emb_table.last_commit()["seq"]
    if last is not None and int(last) >= current_seq:
        return {"rows_indexed": 0, "cursor_seq": int(last)}
    new = (
        emb_table.read() if last is None else emb_table.read_since(int(last))
    )
    assigned = _spread(new.select(id_col, vec_col)).select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_cells(vec_col, centroids, 1)[0].alias("cell"),
    )
    index_table.partition_by = ["cell"]
    index_table.append(assigned, metrics={cursor_prop: current_seq})
    index_table.set_properties(
        {**index_table.properties(), cursor_prop: str(current_seq)}
    )
    n = (index_table.last_commit() or {}).get("rows_written", 0)
    return {"rows_indexed": n, "cursor_seq": current_seq}


def ivf_index_probe_topk(
    index_table,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """ANN top-k against a persisted :func:`ivf_index_refresh` table:
    the probed cell set (≤ n_cells integers, control-plane) turns into
    a partition-pruning ``IN`` filter, so the scan reads only the
    probed cells' DIRECTORIES — at 100 TB the unprobed corpus never
    leaves disk. Scoring and the per-query window match
    :func:`ivf_cosine_topk` value-for-value."""
    qdv = _to_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        qdv.alias("__qv"),
        l2_norm(qdv).alias("__qn"),
        F.explode(
            _nearest_cells(vec_col, centroids, nprobe)
        ).alias("cell"),
    )
    cells = sorted(
        r["cell"] for r in q.select("cell").distinct().collect()
    )
    # norms hoisted scan-side: once per index row, never per pair
    c = (
        index_table.read()
        .where(F.col("cell").isin(cells))
        .withColumn("__cn", l2_norm(_to_double(F.col(vec_col))))
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = c.join(F.broadcast(q), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            F.when(denom == 0, F.lit(0.0)).otherwise(
                dot(F.col("__qv"), _to_double(F.col(vec_col))) / denom
            ),
            round_to,
        ).alias("cos_sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.where(F.col(query_id_col) != F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_knn_join(
    left: DataFrame,
    right: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    left_id_col: str = "q_id",
    right_id_col: str = "vec_id",
    left_vec_col: str = "embedding",
    right_vec_col: str = "embedding",
    exclude_self: bool = False,
    round_to: int = 4,
) -> DataFrame:
    """k-NN JOIN for two LARGE vector frames: for every left row, the
    top-k most-cosine-similar right rows, found by co-partitioning
    BOTH sides on IVF cell id — the both-sides-big shape
    (:func:`ivf_cosine_topk` broadcasts the query frame, which is
    right only while queries fit in a broadcast; a corpus×corpus
    linkage, dedup sweep, or full-dataset retrieval eval does not).

    Left rows replicate to their ``nprobe`` nearest cells, right rows
    live in exactly one cell, and the candidate join is a plain
    shuffle equi-join on the cell id — each partition scores only its
    own cell's pairs, cost |left|·nprobe/n_cells·|right| spread across
    the cluster, never |left|×|right|. AQE's skew handling splits hot
    cells; no driver-side state beyond the centroid literals.

    ``exclude_self`` drops ``left_id == right_id`` pairs (the self-join
    dedup/linkage shape). Returns ``(left_id, right_id, cos_sim)``
    with at most k rows per left id (deterministic ties: id
    ascending)."""
    # norms hoisted BEFORE the cell exchange (the semantic_dedup
    # discipline): each side computes its own |v| once per ROW, not
    # once per candidate pair — at nprobe·|R|/n_cells pairs per left
    # row that is the dominant per-pair flop saved. sqrt(Σx²) here is
    # the same expression l2_norm folds, so the scores are
    # bit-identical to cosine()'s.
    rdv = _to_double(F.col(right_vec_col))
    r = _spread(right.select(right_id_col, right_vec_col)).select(
        F.col(right_id_col).alias("__rid"),
        rdv.alias("__rv"),
        l2_norm(rdv).alias("__rn"),
        _nearest_cells(right_vec_col, centroids, 1)[0].alias("__cell"),
    )
    ldv = _to_double(F.col(left_vec_col))
    l = left.select(
        F.col(left_id_col).alias("__lid"),
        ldv.alias("__lv"),
        l2_norm(ldv).alias("__ln"),
        F.explode(
            _nearest_cells(left_vec_col, centroids, nprobe)
        ).alias("__cell"),
    )
    scored = l.join(r, "__cell")
    if exclude_self:
        scored = scored.where(F.col("__lid") != F.col("__rid"))
    denom = F.col("__ln") * F.col("__rn")
    scored = scored.select(
        F.col("__lid").alias(left_id_col),
        F.col("__rid").alias(right_id_col),
        F.round(
            F.when(denom == 0, F.lit(0.0)).otherwise(
                dot(F.col("__lv"), F.col("__rv")) / denom
            ),
            round_to,
        ).alias("cos_sim"),
    )
    w = W.partitionBy(left_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(right_id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_knn_join_pq(
    left: DataFrame,
    right: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    left_id_col: str = "q_id",
    right_id_col: str = "vec_id",
    left_vec_col: str = "embedding",
    right_vec_col: str = "embedding",
    exclude_self: bool = False,
    round_to: int = 4,
) -> DataFrame:
    """PQ-compressed k-NN join: :func:`ivf_knn_join`'s contract (per
    left row, top-k most-cosine-similar right rows) with the right
    side's float vectors REPLACED by ``m`` PQ code bytes everywhere
    they would cross an exchange — the FAISS IVFADC-with-refine shape
    (Jégou et al. 2011) recast as three DataFrame stages:

    1. **Candidate scoring**: right rows shuffle to their IVF cell
       carrying ``(id, codes)`` only — at dim 1024/float32 vs m=8
       codes that is a ~500× smaller exchange payload, and at 100 TB
       the right-side vector payload IS the join's cost (the carry-over
       gap this operator closes). Left rows replicate to their
       ``nprobe`` cells with their float vector (the asymmetric-ADC
       query side stays exact). Each in-cell pair costs ``m`` table
       lookups instead of a ``dim``-wide dot product.
    2. **Shortlist**: the per-left top-``shortlist`` (default ``4·k``)
       by ADC distance — the window shuffles ``(lid, rid, adc)``
       rows only, never a vector.
    3. **Exact rescore**: ONLY the shortlist pairs rejoin both sides'
       float vectors by id (|L|·shortlist rows — at scale, bucket the
       right table by id to make this fetch exchange-free) and rank by
       exact cosine; top-k per left id.

    Recall vs the uncompressed join is bounded by the shortlist stage
    (measure with :func:`ann_recall`); ADC distances round to 6dp and
    sum as DECIMAL so the shortlist cut is engine-exact. Returns
    ``(left_id, right_id, cos_sim)``, ties on id ascending.
    Beyond-reference surface (the reference has no ANN code — SURVEY
    §7.2 item 11): the contract is "rank by exact cosine", and the PQ
    stages are this repo's scale path to it."""
    if shortlist is None:
        shortlist = 4 * k
    if shortlist < k:
        raise ValueError(f"shortlist={shortlist} must be >= k={k}")
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # right: (id, cell, codes) — no float vector crosses the exchange
    r = _spread(right.select(right_id_col, right_vec_col)).select(
        F.col(right_id_col).alias("__rid"),
        _nearest_cells(right_vec_col, centroids, 1)[0].alias("__cell"),
        F.array(
            *[
                _pq_code(right_vec_col, s, codebooks[s], dsub)
                for s in range(m)
            ]
        ).alias("codes"),
    )
    # the replicated left side carries the per-query ADC table (r15
    # opt, m×k doubles) instead of the float vector: each in-cell pair
    # costs m lookups, not an m·dsub fold (values identical); the
    # exact-rescore stage re-reads the floats from ``left`` anyway.
    # r16 guard (the r15 verdict's What's-wrong #3): the table is m·k
    # doubles where the vector was dim = m·dsub — at the common k=256
    # the replicated-left exchange payload would GROW ~(k/dsub)×, so
    # the table only rides the exchange when m·k ≤ 4·dim (≤4× growth,
    # amortized by the per-pair O(m·dsub) → O(m) drop); past that the
    # vector crosses and each pair pays the inline fold — the exact
    # same DECIMAL terms either way, so results are identical and the
    # cut is a pure payload/CPU trade.
    k_codes = len(codebooks[0])
    use_table = m * k_codes <= 4 * m * dsub
    l = left.select(
        F.col(left_id_col).alias("__lid"),
        (
            _adc_table(codebooks, m, dsub, left_vec_col).alias("__adctab")
            if use_table
            else _to_double(F.col(left_vec_col)).alias("__qv")
        ),
        F.explode(
            _nearest_cells(left_vec_col, centroids, nprobe)
        ).alias("__cell"),
    )
    cand = l.join(r, "__cell")
    if exclude_self:
        cand = cand.where(F.col("__lid") != F.col("__rid"))
    # narrow BEFORE the shortlist window's shuffle: (lid, rid, adc)
    cand = cand.select(
        "__lid",
        "__rid",
        (
            _adc_dist_table(m)
            if use_table
            else _adc_dist(codebooks, m, dsub, "__qv")
        ).alias("__adc"),
    )
    ws = W.partitionBy("__lid").orderBy(
        F.col("__adc").asc(), F.col("__rid").asc()
    )
    short = (
        cand.withColumn("__sn", F.row_number().over(ws))
        .where(F.col("__sn") <= shortlist)
        .select("__lid", "__rid")
    )
    # exact rescore: fetch floats for the shortlist rows only
    ldv = _to_double(F.col(left_vec_col))
    lv = left.select(
        F.col(left_id_col).alias("__lid"),
        ldv.alias("__lv"),
        l2_norm(ldv).alias("__ln"),
    )
    rdv = _to_double(F.col(right_vec_col))
    rv = right.select(
        F.col(right_id_col).alias("__rid"),
        rdv.alias("__rv"),
        l2_norm(rdv).alias("__rnorm"),
    )
    denom = F.col("__ln") * F.col("__rnorm")
    rescored = (
        short.join(lv, "__lid")
        .join(rv, "__rid")
        .select(
            F.col("__lid").alias(left_id_col),
            F.col("__rid").alias(right_id_col),
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("__lv"), F.col("__rv")) / denom
                ),
                round_to,
            ).alias("cos_sim"),
        )
    )
    wk = W.partitionBy(left_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(right_id_col).asc()
    )
    return (
        rescored.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """ANN-backed hard-negative mining: per anchor, the top-k most
    similar corpus vectors with a DIFFERENT label, found by probing
    ``nprobe`` IVF cells instead of broadcast-scanning the corpus —
    the production mining shape when the anchor set is large (the
    brute-force sibling in ``queries_llm.embeddings_hard_negatives``
    stays the small-anchor fast path; compose with the PQ stages for
    memory-bound corpora). The label-disagreement predicate fuses into
    the probe join, before the per-anchor window, so same-label rows
    never reach the top-k sort.

    Returns ``(q_id, vec_id, neg_label, cos_sim)``. Scale shape: cost
    is |corpus| × nprobe / n_cells per anchor batch, one equi-join on
    cell id + one per-anchor window over probed members only."""
    cdv = _to_double(F.col(vec_col))
    c = _spread(corpus).select(
        "*",
        l2_norm(cdv).alias("__cn"),
        _nearest_cells(vec_col, centroids, 1)[0].alias("__cell"),
    )
    qdv = _to_double(F.col(vec_col))
    q = anchors.select(
        F.col(id_col).alias(query_id_col),
        qdv.alias("__qv"),
        l2_norm(qdv).alias("__qn"),
        F.col(label_col).alias("__ql"),
        F.explode(
            _nearest_cells(vec_col, centroids, nprobe)
        ).alias("__cell"),
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = (
        c.join(F.broadcast(q), "__cell")
        .where(
            (F.col(query_id_col) != F.col(id_col))
            & (F.col(label_col) != F.col("__ql"))
        )
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(label_col).alias("neg_label"),
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("__qv"), _to_double(F.col(vec_col))) / denom
                ),
                round_to,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-dedup).

    Each vector is assigned to its nearest k-means centroid scan-side
    (same deterministic index build as IVF — ``ivf_train_centroids``);
    pairwise cosine is then computed ONLY within a cell via an
    equi-join on cell id, and a row is dropped iff a lower-id row in
    its cell sits at cosine ≥ ``threshold``. Returns
    ``(id, cell, keep)`` — a total partition of the corpus, so the
    caller filters ``keep`` for the survivors or inspects the drops.

    The 100 TB shape is the whole point: clustering bounds the
    quadratic pair term to cell populations (n²/k for k cells instead
    of n²), cells scale out with the corpus (grow ``n_cells`` with n),
    and the pair scoring is a same-key self-join — no crossJoin node
    anywhere in the plan. Keeper choice (lowest id per ε-ball) is the
    deterministic greedy that makes re-runs reproducible.
    """
    dv = _to_double(F.col(vec_col))
    # cast + norm happen once per ROW here; the cell-keyed exchange of
    # the self-join materializes them (CollapseProject barrier), so the
    # per-PAIR work below is a single dot product — computing cosine()
    # wholesale per pair would re-traverse both arrays 5× per candidate.
    # The float math is identical (same ops, same order) to cosine().
    c = _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col),
        dv.alias("__v"),
        l2_norm(dv).alias("__n"),
        _nearest_cells(vec_col, centroids, 1)[0].alias("__cell"),
    )
    # the assignment frame feeds THREE consumers (both self-join
    # branches and the final keep-mark join); without a materialization
    # each one re-runs the cell-assignment projection and its exchange.
    # Materialize it once — the SemDeDup index frame (id, vec, norm,
    # cell) is exactly what the published recipe persists at scale.
    c = c.localCheckpoint(eager=False)
    a = c.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "__cell",
    )
    b = c.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "__cell",
    )
    denom = F.col("__na") * F.col("__nb")
    pair_cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("__va"), F.col("__vb")) / denom
    )
    dup_ids = (
        a.join(b, "__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(pair_cos, round_to) >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        c.join(dup_ids.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("__cell").alias("cell"),
            F.col("__dup").isNull().alias("keep"),
        )
    )


# -- int8 quantization --------------------------------------------------------

def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = floor(x_i /
    scale · 127 + 0.5)``, ``scale = max|x|`` — the 4× storage cut
    (float32 → int8 + one scale) embedding stores take at 100 TB.

    Returns ``(id, qvec array<int>, scale double)``. One narrow
    projection, zero shuffles. Deterministic across engines: every
    operand is cast to DOUBLE before arithmetic (FLOAT/FLOAT division
    is engine-specific in output type) and the explicit ``floor(·+0.5)``
    is half-up rounding with no engine tie-break involved. A zero
    vector quantizes to zeros with scale 0.
    """
    xs = _to_double(F.col(vec_col))
    scale = F.array_max(F.transform(xs, F.abs))
    q = F.when(scale == 0, F.transform(xs, lambda x: F.lit(0))).otherwise(
        F.transform(
            xs, lambda x: F.floor(x / scale * F.lit(127.0) + F.lit(0.5)).cast("int")
        )
    )
    return df.select(
        F.col(id_col), q.alias("qvec"), F.round(scale, 6).alias("scale")
    )


def quantize_int8_calibrated(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lo_q: float = 0.01,
    hi_q: float = 0.99,
) -> DataFrame:
    """Percentile-calibrated per-DIMENSION int8 quantization: clip each
    dimension at its corpus-level exact discrete percentiles before
    scaling — the production calibration step absmax quantization
    lacks (one outlier coordinate otherwise burns the whole int8 range
    for every vector; faiss/our ``quantize_int8`` is per-vector
    absmax). Returns EXPLODED rows ``(id, pos, q, half)`` — element
    level, the value-checkable shape.

    Determinism: the clip bounds are exact DISCRETE percentiles (rank
    pick, ``ceil(q·n)`` — no interpolation float), the symmetric range
    is ``half = max(|lo|, |hi|)``, and rounding is the engine-neutral
    ``floor(x+0.5)``. Plan: one posexplode shuffle on dimension
    position for the rank windows, a ≤dim-row bounds table broadcast
    back, quantization scan-side."""
    el = df.select(
        F.col(id_col),
        F.posexplode(_to_double(F.col(vec_col))).alias("__pos", "__x"),
    )
    w = W.partitionBy("__pos").orderBy("__x", id_col)
    ranked = el.select(
        "__pos",
        "__x",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(W.partitionBy("__pos")).alias("__n"),
    )
    lo_rank = F.greatest(F.lit(1), F.ceil(F.lit(lo_q) * F.col("__n")))
    hi_rank = F.ceil(F.lit(hi_q) * F.col("__n"))
    bounds = ranked.groupBy("__pos").agg(
        F.max(F.when(F.col("__rn") == lo_rank, F.col("__x"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi_rank, F.col("__x"))).alias("__hi"),
    )
    half = F.greatest(F.abs(F.col("__lo")), F.abs(F.col("__hi")))
    b = bounds.select("__pos", half.alias("__half"))
    clipped = F.least(F.greatest(F.col("__x"), -F.col("__half")), F.col("__half"))
    q = F.when(F.col("__half") == 0, F.lit(0)).otherwise(
        F.floor(clipped / F.col("__half") * F.lit(127.0) + F.lit(0.5))
    ).cast("int")
    return el.join(F.broadcast(b), "__pos").select(
        F.col(id_col),
        F.col("__pos").alias("pos"),
        q.alias("q"),
        F.round(F.col("__half"), 6).alias("half"),
    )


def dequantize_int8(
    df: DataFrame, qvec_col: str = "qvec", scale_col: str = "scale"
) -> Column:
    """Reconstruction expression ``q_i · scale / 127`` (array<double>)
    — compose into a select to measure quantization error or feed the
    cosine helpers."""
    return F.transform(
        F.col(qvec_col),
        lambda x: x.cast("double") * F.col(scale_col) / F.lit(127.0),
    )


# -- product quantization (PQ) ------------------------------------------------

def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, left-to-right summation (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_sub(vec: Column, sub: int, dsub: int) -> Column:
    return F.slice(_to_double(vec), sub * dsub + 1, dsub)


def _pq_sub_sql(vec: str, sub: int, dsub: int) -> str:
    """SQL twin of :func:`_pq_sub` over a column NAME."""
    return f"slice({_dv_sql(qident(vec))}, {sub * dsub + 1}, {dsub})"


def _pq_code(vec: str, sub: int, codebook: list[list[float]], dsub: int) -> Column:
    """Nearest code in one subspace by squared L2 (rounded to 6 so
    cross-engine float-summation order can't flip an argmin; ties on
    the lower code id), over the named vector column — ONE parsed
    expression (r16 opt, same rationale as :func:`_nearest_cells`;
    value-identity pinned by tests/test_expr_sql_twins.py)."""
    sv = _pq_sub_sql(vec, sub, dsub)
    scored = (
        f"transform({_matrix_sql(codebook)}, (c, i) -> "
        f"struct(round({_sq_l2_sql(sv, 'c')}, 6) as d, i as code))"
    )
    return F.expr(f"array_sort({scored})[0].code")


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    seeds: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Deterministic per-subspace k-means codebooks for product
    quantization (Jégou et al. 2011, public): the vector splits into
    ``m`` contiguous subspaces; each learns its own ``k``-centroid
    codebook, so a vector stores as ``m`` small codes (``m`` bytes at
    k ≤ 256) + shared codebooks — the compression an embedding store
    needs beyond int8 when 100 TB of float32 must become RAM-resident.

    Same determinism contract as ``ivf_train_centroids``: seeds are the
    ``k`` corpus vectors with the lowest ``md5(id)`` (their subvectors
    seed every subspace), each Lloyd iteration assigns scan-side
    (rounded squared-L2 argmin, code-id ties) and recomputes means via
    one ``(sub, code, pos)``-keyed aggregate for ALL subspaces at once.
    Driver-side data is the ``m·k·dsub`` codebook table — control-plane
    sized. A code that loses every member keeps its previous centroid.

    Returns ``codebooks[sub][code] = centroid`` (length ``dim // m``).
    ``train_sample`` bounds the training passes exactly as in
    ``ivf_train_centroids`` (encode still covers the full corpus).
    """
    corpus = _spread(corpus.select(id_col, vec_col))
    if train_sample is not None:
        if train_sample < k:
            raise ValueError("train_sample must be >= k")
        # driver-side Lloyd on the collected sample (see
        # ivf_train_centroids — same FAISS bounded-training model,
        # same exact scan-side assignment semantics per subspace)
        vecs = _collect_training_sample(corpus, id_col, vec_col, train_sample)
        if not vecs:
            raise ValueError("pq_train_codebooks: empty corpus")
        return _pq_lloyd_local(vecs, m, k, iters)
    if seeds is not None:
        seed_vecs = [list(map(float, v)) for v in seeds[:k]]
    else:
        seed_rows = (
            corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k)
            .collect()
        )
        seed_vecs = [[float(x) for x in r[vec_col]] for r in seed_rows]
    if not seed_vecs:
        raise ValueError("pq_train_codebooks: empty corpus")
    # dim comes from the seed rows themselves — a separate first()
    # probe was one more full Spark action per index build
    dim = len(seed_vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = [
        [v[s * dsub : (s + 1) * dsub] for v in seed_vecs] for s in range(m)
    ]
    for _ in range(iters):
        # one pass for all subspaces: per row, an array of m structs
        # (sub, assigned code, subvector), exploded then pos-exploded
        per_sub = F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    _pq_code(vec_col, s, books[s], dsub).alias("code"),
                    _pq_sub(F.col(vec_col), s, dsub).alias("sv"),
                )
                for s in range(m)
            ]
        )
        assigned = corpus.select(F.explode(per_sub).alias("a")).select(
            F.col("a.sub").alias("__sub"), F.col("a.code").alias("__code"),
            F.col("a.sv").alias("__sv"),
        ).select(
            "__sub", "__code", F.posexplode("__sv").alias("__pos", "__x")
        )
        means = (
            assigned.groupBy("__sub", "__code", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["__sub"], r["__code"]), {})[r["__pos"]] = r["__m"]
        books = [
            [
                [got[(s, c)][p] for p in sorted(got[(s, c)])]
                if (s, c) in got
                else books[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return books


def ivfpq_train(
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Fused IVF + PQ training: one index build instead of two.

    Value-identical to ``ivf_train_centroids`` + ``pq_train_codebooks``
    (same md5-rank seeds — both read the same ordering prefix — same
    per-iteration assignment expressions, same grouped means, so the
    DuckDB oracles that re-derive each build separately still match),
    but the two Lloyd recursions share their Spark actions: ONE seed
    collect (the first ``max(n_cells, k)`` rows seed both) and ONE
    combined means job per iteration (the IVF explode and the PQ
    explode union into a single keyed aggregate; groups are disjoint by
    a kind marker, so each side's means are exactly what its standalone
    job computed). For an IVFADC build that halves the number of
    full-corpus training passes — at 100 TB the training scans ARE the
    build cost, and the scheduler round-trips dominate the small-sample
    case the same way."""
    corpus = _spread(corpus.select(id_col, vec_col))
    if train_sample is not None:
        if train_sample < max(n_cells, k):
            raise ValueError("train_sample must be >= max(n_cells, k)")
        # ONE collect feeds both driver-side Lloyd recursions
        vecs = _collect_training_sample(corpus, id_col, vec_col, train_sample)
        if len(vecs) < max(n_cells, k):
            raise ValueError("ivfpq_train: corpus smaller than seed count")
        return (
            _ivf_lloyd_local(vecs, n_cells, iters),
            _pq_lloyd_local(vecs, m, k, iters),
        )
    seed_rows = (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(max(n_cells, k))
        .collect()
    )
    if len(seed_rows) < max(n_cells, k):
        raise ValueError("ivfpq_train: corpus smaller than seed count")
    dim = len(seed_rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    centroids = [
        [float(x) for x in r[vec_col]] for r in seed_rows[:n_cells]
    ]
    books = [
        [
            [float(x) for x in r[vec_col][s * dsub : (s + 1) * dsub]]
            for r in seed_rows[:k]
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        # IVF side: (kind=-1, cell, pos, x) over the full vector
        ivf_rows = corpus.select(
            _nearest_cells(vec_col, centroids, 1)[0].alias("__b"),
            vec_col,
        ).select(
            F.lit(-1).alias("__a"),
            "__b",
            F.posexplode(_to_double(F.col(vec_col))).alias("__pos", "__x"),
        )
        # PQ side: (kind=sub, code, pos, x) over each subvector
        per_sub = F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    _pq_code(vec_col, s, books[s], dsub).alias("code"),
                    _pq_sub(F.col(vec_col), s, dsub).alias("sv"),
                )
                for s in range(m)
            ]
        )
        pq_rows = (
            corpus.select(F.explode(per_sub).alias("a"))
            .select(
                F.col("a.sub").alias("__a"),
                F.col("a.code").alias("__b"),
                F.col("a.sv").alias("__sv"),
            )
            .select("__a", "__b", F.posexplode("__sv").alias("__pos", "__x"))
        )
        means = (
            ivf_rows.unionByName(pq_rows)
            .groupBy("__a", "__b", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            if r["__a"] == -1:
                by_cell.setdefault(r["__b"], {})[r["__pos"]] = r["__m"]
            else:
                got.setdefault((r["__a"], r["__b"]), {})[r["__pos"]] = r["__m"]
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])]
            if c in by_cell
            else centroids[c]
            for c in range(n_cells)
        ]
        books = [
            [
                [got[(s, c)][p] for p in sorted(got[(s, c)])]
                if (s, c) in got
                else books[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return centroids, books


def ivfpq_train_residual(
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Residual IVFADC training with ONE seed scan.

    The unfused build (``ivf_train_centroids`` → ``ivf_residuals`` →
    ``pq_train_codebooks``) pays TWO full-corpus seed scans (each an
    orderBy(md5)+TakeOrdered job): one for the IVF seeds, one for the
    residual-frame PQ seeds. But the PQ seeds are the residuals of the
    SAME md5-ordered id prefix — ``ivf_residuals`` preserves ids, so
    the residual frame's lowest-md5 rows are exactly the IVF seed rows
    minus their (converged) nearest centroid. That arithmetic is
    control-plane sized, so this build collects the seed prefix once,
    runs the distributed IVF Lloyd iterations, derives the PQ seeds
    driver-side (``_local_cos6`` is the pinned op-for-op twin of the
    scan-side assignment), and feeds them into the distributed
    residual-PQ Lloyd via ``seeds=``.

    Value-identical to the unfused build — the DuckDB oracle that
    re-derives both builds separately still matches (pinned by
    ``test_fused_residual_build_matches_unfused``). Full-corpus passes
    drop from ``2 + 2·iters`` to ``1 + 2·iters`` — at 100 TB the
    training scans are the build cost.
    """
    corpus = _spread(corpus.select(id_col, vec_col))
    seed_rows = (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(max(n_cells, k))
        .collect()
    )
    seeds = [[float(x) for x in r[vec_col]] for r in seed_rows]
    centroids = ivf_train_centroids(
        corpus, n_cells, iters, id_col, vec_col, seeds=seeds
    )

    def _res(v: list[float]) -> list[float]:
        best = min(
            range(len(centroids)),
            key=lambda c: (-_local_cos6(v, centroids[c]), c),
        )
        return [x - cx for x, cx in zip(v, centroids[best])]

    # lazy-checkpoint the residual frame (r16 opt, guide §5): the PQ
    # Lloyd below scans it once per iteration, and each scan would
    # otherwise re-run the full cell-assignment + subtraction chain
    # over the corpus; the first means job materializes it instead
    # (MEMORY_AND_DISK — the same trade quality_lr_pipeline makes for
    # its per-GD-step feature frame)
    rs = ivf_residuals(corpus, centroids, id_col, vec_col).localCheckpoint(
        eager=False
    )
    books = pq_train_codebooks(
        rs,
        m,
        k,
        iters,
        id_col,
        "__residual",
        seeds=[_res(v) for v in seeds[:k]],
    )
    return centroids, books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-code ids —
    ``(id, codes array<int>)``, the 4-bytes-per-subspace storage row.
    One narrow scan-side projection, zero shuffles."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = F.array(
        *[_pq_code(vec_col, s, codebooks[s], dsub) for s in range(m)]
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the corpus side is
    encoded once (``pq_encode``); each (query, row) distance is the sum
    of per-subspace squared L2 between the query's subvector and the
    row's code centroid — ``m`` lookups instead of a ``dim``-wide exact
    scan, and the corpus never materializes its floats again.

    Cross-engine exactness: per-subspace distances round to 6 decimals
    and sum as DECIMAL(18,6) (order-free exact addition), ranking
    ascending with id ties. Returns ``(q_id, vec_id, adc_dist)``.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    encoded = _spread(pq_encode(corpus, codebooks, id_col, vec_col))
    # ADC table per query (r15 opt): the broadcast side carries the
    # m×k distance table instead of the float vector — each candidate
    # pair then costs m lookups, not an m·dsub fold (values identical)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        _adc_table(codebooks, m, dsub, vec_col).alias("__adctab"),
    )
    scored = encoded.join(F.broadcast(q), F.lit(True)).select(
        F.col(query_id_col),
        F.col(id_col),
        _adc_dist_table(m).alias("adc_dist"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.where(F.col(query_id_col) != F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _adc_dist(
    codebooks: list[list[list[float]]],
    m: int,
    dsub: int,
    qcol: str = "__qv",
) -> Column:
    """Asymmetric PQ distance between ``qcol`` (query-side vector) and
    ``codes`` (row code array): per-subspace squared L2 to the code's
    centroid, rounded to 6 and summed as DECIMAL(18,6) — order-free
    exact addition, so rankings agree across engines.

    This inline form costs O(m·dsub) interpreted higher-order-function
    work PER CANDIDATE PAIR; the scoring operators precompute the
    standard ADC lookup table per query row instead
    (:func:`_adc_table` + :func:`_adc_dist_table` — m array lookups
    per pair, bit-identical values). Kept as the definitional form and
    for single-use callers."""
    dist = None
    for s in range(m):
        qs = _pq_sub(F.col(qcol), s, dsub)
        cent = F.element_at(matrix_literal(codebooks[s]), F.col("codes")[s] + 1)
        d = F.round(_sq_l2(qs, cent), 6).cast("decimal(18,6)")
        dist = d if dist is None else dist + d
    return dist


def _adc_table(
    codebooks: list[list[list[float]]],
    m: int,
    dsub: int,
    qcol: str,
) -> Column:
    """The FAISS ADC lookup table as a per-query-row expression (r15
    opt): entry ``[s][c] = round(sq_l2(q_s, codebooks[s][c]), 6)`` —
    every per-subspace distance a candidate pair could need, computed
    ONCE per query row (m·k·dsub work) instead of per pair (m·dsub
    work × |candidates|). Each entry is exactly the value
    :func:`_adc_dist` computed inline, so scoring through the table is
    bit-identical; the table rides the (tiny, broadcast/replicated)
    query side through the candidate join as an m×k double array.

    Built as ONE parsed expression (r16 opt — the lambda-built form
    cost ~0.2 s of Py4J round-trips per construction; value-identity
    pinned by tests/test_expr_sql_twins.py)."""

    def sub_tab(s: int) -> str:
        qs = _pq_sub_sql(qcol, s, dsub)
        return (
            f"transform({_matrix_sql(codebooks[s])}, "
            f"cb -> round({_sq_l2_sql(qs, 'cb')}, 6))"
        )

    return F.expr("array(" + ",".join(sub_tab(s) for s in range(m)) + ")")


def _adc_dist_table(m: int, tab_col: str = "__adctab") -> Column:
    """ADC distance from a precomputed :func:`_adc_table` column: m
    1-based lookups ``tab[s][codes[s] + 1]``, each cast to
    DECIMAL(18,6) and summed exactly — the same terms, rounding and
    order-free sum as the inline :func:`_adc_dist`."""
    dist = None
    for s in range(m):
        d = (
            F.element_at(
                F.element_at(F.col(tab_col), s + 1), F.col("codes")[s] + 1
            )
        ).cast("decimal(18,6)")
        dist = d if dist is None else dist + d
    return dist


def ann_recall(
    exact: DataFrame,
    ann: DataFrame,
    k: int,
    query_id_col: str = "q_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an ANN shortlist against the exact top-k — the
    quality gauge every index build ships with (FAISS benchmarks
    report exactly this; an index whose recall is unmeasured is an
    index whose quality is unknown). Per query: the fraction of the
    exact top-k the ANN result recovered.

    One join on (query, id) — the exact side is |queries|·k rows, so
    at any corpus scale this is broadcast-sized; recall = hits/k is
    exact small-integer division on both engines."""
    hit = (
        ann.select(query_id_col, id_col)
        .withColumn("__hit", F.lit(1))
    )
    marked = exact.select(query_id_col, id_col).join(
        hit, [query_id_col, id_col], "left"
    )
    n_hits = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return marked.groupBy(query_id_col).agg(
        n_hits.cast("bigint").alias("hits"),
        (n_hits / float(k)).alias(f"recall_at_{k}"),
    )


def ivf_residuals(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its nearest IVF cell and compute the residual
    ``x - centroid[cell]`` — the encoding input of standard IVFADC
    (Jégou et al. 2011 encode residuals, not raw vectors: within a
    cell the residual distribution is far tighter, so the same PQ
    codebook budget quantizes much finer). Returns ``(id, __cell,
    __residual)``. Two chained projections so the cell assignment is
    computed once and the centroid lookup references the materialized
    column. Scan-side, zero shuffles."""
    assigned = _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_cells(vec_col, centroids, 1)[0].alias("__cell"),
    )
    res = F.zip_with(
        _to_double(F.col(vec_col)),
        F.element_at(matrix_literal(centroids), F.col("__cell") + 1),
        lambda x, c: x - c,
    )
    return assigned.select(
        F.col(id_col), F.col("__cell"), res.alias("__residual")
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    residual: bool = False,
) -> DataFrame:
    """IVF+PQ composite ANN — the IVFADC index of Jégou et al. 2011
    (public), and the actual 100 TB ANN shape: the IVF coarse quantizer
    (``ivf_train_centroids``) prunes each query's scan to its ``nprobe``
    nearest cells, and PQ asymmetric distances (``pq_train_codebooks``)
    rank ONLY the probed cells' rows — where ``pq_adc_topk`` scans every
    code row per query, this scores |corpus| · nprobe / n_cells rows,
    and the corpus side stores only ``(id, cell, codes)``: a few bytes
    per vector, never the floats.

    ``residual=True`` is the full published IVFADC: PQ codes quantize
    the residual ``x - centroid[cell]`` (pass codebooks trained on
    ``ivf_residuals`` with ``vec_col="__residual"``), and each query
    side likewise subtracts the probed cell's centroid before the ADC
    lookup — same codebook budget, much finer quantization, because
    within-cell residuals are far tighter than raw vectors.

    Both index builds are the deterministic md5-seeded k-means the
    standalone operators use, so the DuckDB oracle re-derives the whole
    composite. Cell assignment and PQ encoding are one scan-side
    projection; the query set broadcasts; one shuffle total (the
    per-query top-k window). Returns ``(q_id, vec_id, adc_dist)``.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if residual:
        rs = ivf_residuals(corpus, centroids, id_col, vec_col)
        enc = rs.select(
            F.col(id_col),
            F.col("__cell"),
            F.array(
                *[
                    _pq_code("__residual", s, codebooks[s], dsub)
                    for s in range(m)
                ]
            ).alias("codes"),
        )
    else:
        enc = _spread(corpus).select(
            F.col(id_col),
            _nearest_cells(vec_col, centroids, 1)[0].alias("__cell"),
            F.array(
                *[
                    _pq_code(vec_col, s, codebooks[s], dsub)
                    for s in range(m)
                ]
            ).alias("codes"),
        )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.explode(
            _nearest_cells(vec_col, centroids, nprobe)
        ).alias("__cell"),
    )
    # ADC table per (query, probed cell) row (r15 opt): built BEFORE
    # the candidate join — the residual form subtracts the probed
    # cell's centroid here, exactly where the inline form did it after
    # the join — so each candidate pair costs m lookups, not an m·dsub
    # fold (values identical)
    if residual:
        qres = F.zip_with(
            _to_double(F.col("__qv")),
            F.element_at(matrix_literal(centroids), F.col("__cell") + 1),
            lambda x, c: x - c,
        )
        q = q.withColumn("__qres", qres)
    q = q.select(
        query_id_col,
        "__cell",
        _adc_table(
            codebooks, m, dsub, "__qres" if residual else "__qv"
        ).alias("__adctab"),
    )
    # equi-join on cell replaces pq_adc_topk's full cross product; a
    # corpus row lives in exactly one cell and a query's probed cells
    # are distinct, so (q, doc) appears at most once — no dedup needed
    joined = enc.join(F.broadcast(q), "__cell")
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        _adc_dist_table(m).alias("adc_dist"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.where(F.col(query_id_col) != F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def binary_signature(vec: Column, dim: int) -> Column:
    """Sign-bit binary quantization: pack each embedding into
    ``ceil(dim/32)`` 32-bit words (``array<bigint>``), bit = 1 where
    the component is > 0 — 32× smaller than float32, and Hamming
    distance over the packed words approximates angular distance
    (Charikar 2002 sign-random-projection, applied to the identity
    basis). The fold puts the first component of each word at the
    high bit (acc*2 + bit), matching the oracle's explicit bit
    placement. 32-bit words keep every intermediate exact in BIGINT
    on both engines (a 64-bit fold would overflow the top bit)."""
    v = _to_double(vec)
    words = (dim + 31) // 32
    return F.array(
        *[
            F.aggregate(
                F.slice(v, j * 32 + 1, 32),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc * 2
                + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)),
            )
            for j in range(words)
        ]
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Total popcount of XORed packed-word arrays (same word layout on
    both sides)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """Binary-quantized ANN: Hamming pre-rank over sign-bit signatures,
    exact cosine re-rank of the per-query ``shortlist`` — the standard
    two-stage shape for billion-scale search (signatures are 32×
    smaller than the vectors, so the pre-rank scan is bandwidth-cheap
    and stays in JVM integer ops; floats are touched only for
    ``shortlist`` candidates per query).

    Returns ``(q_id, id, hamming, cos_sim)`` — top ``k`` per query by
    re-ranked cosine, both stages with deterministic id tiebreaks.

    Scale shape: the pre-rank broadcasts only (query_id, signature);
    the candidate fetch joins the shortlist ids back to the corpus (a
    shuffle proportional to queries × shortlist, not the corpus); the
    query vectors broadcast once for the re-rank. In a persisted
    deployment the signature column is computed once at ingest and the
    pre-rank scan column-prunes to it."""
    corp = _spread(corpus).select(
        F.col(id_col),
        binary_signature(F.col(vec_col), dim).alias("__sig"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        binary_signature(F.col(vec_col), dim).alias("__qsig"),
    )
    pre = (
        corp.crossJoin(F.broadcast(q.select(query_id_col, "__qsig")))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            hamming_distance(F.col("__sig"), F.col("__qsig")).alias(
                "hamming"
            ),
        )
        .where(F.col(query_id_col) != F.col(id_col))
    )
    wpre = W.partitionBy(query_id_col).orderBy(
        # NULLS LAST explicitly: a NULL embedding yields NULL hamming,
        # and Spark's ASC default (NULLS FIRST) would let poison rows
        # consume the whole shortlist — and diverge from DuckDB's
        # NULLS LAST on the same QUALIFY
        F.col("hamming").asc_nulls_last(), F.col(id_col).asc()
    )
    cand = (
        pre.withColumn("__rn", F.row_number().over(wpre))
        .where(F.col("__rn") <= shortlist)
        .drop("__rn")
    )
    scored = (
        cand.join(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(q.select(query_id_col, "__qv")), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.col("hamming"),
            F.round(cosine(F.col("__qv"), F.col(vec_col)), round_to).alias(
                "cos_sim"
            ),
        )
    )
    wk = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    round_to: int = 4,
) -> DataFrame:
    """Matryoshka retrieval (Kusupati et al. 2022, arXiv:2205.13147):
    rank cheaply on the first ``prefix_dim`` components (MRL-trained
    embeddings concentrate signal in the prefix), then re-rank the
    per-query ``shortlist`` with full-dimension exact cosine — the
    adaptive-dimension funnel. At 100 TB the pre-rank scan reads a
    ``prefix_dim/dim`` slice of the vector bytes (store the prefix as
    its own column for real column pruning); full vectors are touched
    only for shortlist candidates. Returns
    ``(q_id, id, prefix_sim, cos_sim)``, both stages rounded-then-
    ranked with id tiebreaks (cross-engine deterministic)."""
    pre_corp = _spread(corpus).select(
        F.col(id_col), F.slice(F.col(vec_col), 1, prefix_dim).alias("__pv")
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("__qp"),
    )
    pre = (
        pre_corp.crossJoin(F.broadcast(q.select(query_id_col, "__qp")))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(cosine(F.col("__qp"), F.col("__pv")), round_to).alias(
                "prefix_sim"
            ),
        )
        .where(F.col(query_id_col) != F.col(id_col))
    )
    wpre = W.partitionBy(query_id_col).orderBy(
        F.col("prefix_sim").desc(), F.col(id_col).asc()
    )
    cand = (
        pre.withColumn("__rn", F.row_number().over(wpre))
        .where(F.col("__rn") <= shortlist)
        .drop("__rn")
    )
    scored = (
        cand.join(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(q.select(query_id_col, "__qv")), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.col("prefix_sim"),
            F.round(cosine(F.col("__qv"), F.col(vec_col)), round_to).alias(
                "cos_sim"
            ),
        )
    )
    wk = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def embedding_curation_pipeline(
    emb: DataFrame,
    n_cells: int = 16,
    semdedup_threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = ("label",),
) -> DataFrame:
    """Embedding-corpus curation composite — the embedding-side
    flagship, mirroring what ``plans/corpus.py`` does for text:

    1. validity gate: NULL and zero-norm vectors drop (they poison
       every cosine downstream);
    2. exact dedup: byte-identical vectors collapse to the lowest id,
       keyed on an md5 fingerprint of the DECIMAL-canonicalized
       components (cross-engine stable — float→string is not);
    3. SemDeDup semantic dedup (Abbas et al. 2023): IVF cells bound
       the pair search, near-identical members drop (lowest-id
       keeper), with the coarse quantizer trained on the
       exact-deduped corpus;
    4. int8 symmetric quantization of the survivors — the storage
       format a 100 TB embedding store actually persists.

    Returns ``(id, *keep_cols, cell, qvec, scale)``. Every stage is
    the already-oracle-proven operator; the composite is value-checked
    end-to-end by one chained oracle (``embeddings_pipeline_curated``).

    Scale shape: the gate and fingerprint are scan-side projections;
    exact dedup is one keyed window; SemDeDup's pair search is
    cell-bounded (n²/k); quantization is a narrow projection. The only
    driver-side data is the centroid table (control-plane)."""
    xs = _to_double(F.col(vec_col))
    gated = emb.where(F.col(vec_col).isNotNull()).where(l2_norm(xs) > 0)
    fp = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                xs, lambda x: x.cast("decimal(18,9)").cast("string")
            ),
        )
    )
    w = W.partitionBy("__fp").orderBy(F.col(id_col).asc())
    deduped = (
        gated.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
        # staged: the gate + fingerprint window feeds every downstream
        # consumer (each Lloyd pass, the SemDeDup assignment, the
        # survivors join, quantize) — without the stage it re-executes
        # ~8× (same discipline as ccnet/dsir)
        .localCheckpoint(eager=False)
    )
    centroids = ivf_train_centroids(
        deduped, n_cells=n_cells, iters=2, id_col=id_col, vec_col=vec_col
    )
    sd = semantic_dedup(
        deduped, centroids, threshold=semdedup_threshold,
        id_col=id_col, vec_col=vec_col,
    )
    survivors = deduped.join(
        sd.where(F.col("keep")).select(F.col(id_col), F.col("cell")), id_col
    )
    quant = quantize_int8(survivors, vec_col=vec_col, id_col=id_col)
    return (
        survivors.select(F.col(id_col), *[F.col(c) for c in keep_cols], "cell")
        .join(quant, id_col)
        .select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            "cell", "qvec", "scale",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "vec_id",
    rank_col: str = "rank",
    rrf_k: int = 60,
    scale: int = 10**9,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    lists over one id space — the standard hybrid-retrieval combiner
    (lexical BM25 + semantic ANN): each list contributes
    ``1/(rrf_k + rank)``, summed per id.

    Scores are INTEGER units (``scale DIV (rrf_k + rank)``) so the
    fusion is exact and order-independent — a float reciprocal sum
    would drift across engines. An id absent from a list contributes 0
    (no join against the union of ids needed — absence simply adds no
    row). Returns the top ``k`` ids as ``(id, rrf_units, rrf_rank)``.

    Scale shape: one union (no shuffle) + one groupBy(id) partial-agg
    + one global top-k as a DISTRIBUTED TakeOrderedAndProject (orderBy
    + limit(k) — per-partition top-k, then a k-row merge), and only
    then the rank-number window over the ≤ k survivors. Before round
    13 the window ranked the WHOLE fused id domain through one
    partition and filtered afterwards — the exact single-partition
    shape the plan audit's revived detector flagged; the remaining
    window is bounded by ``k`` rows by construction (pinned with that
    argument in ``SINGLE_PARTITION_BY_DESIGN``).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col),
            F.expr(f"{scale} div ({rrf_k} + {rank_col})").alias("__u"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(id_col).agg(F.sum("__u").alias("rrf_units"))
    order = [F.col("rrf_units").desc(), F.col(id_col).asc()]
    topk = fused.orderBy(*order).limit(k)
    return topk.withColumn("rrf_rank", F.row_number().over(W.orderBy(*order)))


def ndcg_discounts(k: int) -> list[tuple[int, str]]:
    """The nDCG position discounts ``1/log2(rank+1)`` for ranks 1..k,
    12-dp-rounded and returned as STRINGS — both engines ingest the
    identical decimal literals, so no cross-engine log2 ulp can leak
    into the metric."""
    import math

    return [(i, f"{1.0 / math.log2(i + 1):.12f}") for i in range(1, k + 1)]


def ndcg_idcg_prefix(k: int) -> list[tuple[int, str]]:
    """Ideal-DCG prefix sums: ``idcg(n) = Σ_{i≤n} 1/log2(i+1)`` for
    n = 1..k, as exact decimal STRINGS over the same injected discount
    literals — the per-query normalizer when a query's exact top-k has
    fewer than k members (a perfect ranking of 3 true neighbors must
    score 1.0, not 3-discounts/k-discounts)."""
    from decimal import Decimal

    out, acc = [], Decimal(0)
    for i, w in ndcg_discounts(k):
        acc += Decimal(w)
        out.append((i, str(acc)))
    return out


def ann_ndcg(
    exact: DataFrame,
    ann: DataFrame,
    k: int,
    query_id_col: str = "q_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """nDCG@k of an ANN ranking against the exact top-k (binary
    relevance: a hit is membership in the exact set; the POSITION of
    each hit in the ANN list earns the ``1/log2(rank+1)`` discount) —
    the graded companion of :func:`ann_recall`: two indexes with equal
    recall can still differ in how early they surface the true
    neighbors.

    Determinism: discounts are injected 12-dp decimal literals (never
    engine log2), the DCG sum is exact DECIMAL, and the single
    dcg/idcg division is one correctly-rounded double op. Broadcast-
    sized joins, same as recall.

    The normalizer is PER QUERY: ``idcg = Σ first min(k, |exact_q|)``
    discounts, so a perfect ANN ranking over a small or heavily
    filtered corpus (fewer than k true neighbors exist) still scores
    1.0; and the output frame is driven by the EXACT side's query set,
    so a query whose ANN list contributed no rank≤k rows surfaces as
    ndcg 0 instead of silently vanishing."""
    from decimal import Decimal

    disc = ndcg_discounts(k)
    spark = ann.sparkSession
    disc_df = local_frame(
        spark,
        [(i, Decimal(w)) for i, w in disc], "rank int, w decimal(14,12)"
    )
    pref_df = local_frame(
        spark,
        [(n, Decimal(s)) for n, s in ndcg_idcg_prefix(k)],
        "__n int, __idcg decimal(20,12)",
    )
    counts = exact.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("__n_exact")
    )
    hits = (
        ann.select(query_id_col, id_col, F.col(rank_col).alias("rank"))
        .join(
            exact.select(query_id_col, id_col).withColumn("__rel", F.lit(1)),
            [query_id_col, id_col],
            "left",
        )
        .join(F.broadcast(disc_df), "rank")
    )
    dcg = F.sum(
        F.when(F.col("__rel") == 1, F.col("w")).otherwise(
            F.lit("0").cast("decimal(14,12)")
        )
    ).cast("decimal(20,12)")
    dcg_df = hits.groupBy(query_id_col).agg(dcg.alias("__dcg"))
    return (
        counts.join(
            F.broadcast(pref_df),
            F.least(F.col("__n_exact"), F.lit(k)).cast("int")
            == F.col("__n"),
        )
        .join(dcg_df, query_id_col, "left")
        .select(
            query_id_col,
            F.round(
                F.coalesce(
                    F.col("__dcg"), F.lit("0").cast("decimal(20,12)")
                ).cast("double")
                / F.col("__idcg").cast("double"),
                6,
            ).alias(f"ndcg_at_{k}"),
        )
    )


# ---------------------------------------------------------------------------
# Power iteration: top principal direction of the (uncentered)
# second-moment matrix of an embedding column — the classic first
# step of PCA / OPQ-style rotation training and a corpus-drift gauge
# (which direction dominates a crawl snapshot). Public method:
# von Mises iteration, v <- X^T (X v) / ||.||.
# ---------------------------------------------------------------------------
def _fixed_point_vectors(
    corpus: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """``(id, xi array<bigint>)`` — embeddings in integer fixed-point
    units (round(x·scale)), the package's cross-engine exactness
    discipline: every downstream dot product and matvec accumulates
    EXACTLY in integer arithmetic, so no float-summation-order hazard
    exists anywhere in the iteration."""
    return _spread(corpus.select(id_col, vec_col)).select(
        id_col,
        F.transform(
            _to_double(F.col(vec_col)),
            lambda x: F.round(x * F.lit(float(scale))).cast("bigint"),
        ).alias("__xi"),
    )


def _int_dot(vec_col: Column, units: list[int]) -> Column:
    """Exact BIGINT dot of an integer array column with unit weights."""
    w = F.array(*[F.lit(int(u)).cast("bigint") for u in units])
    return F.aggregate(
        F.zip_with(vec_col, w, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )


def _max_abs_units(xi: DataFrame) -> int:
    """Largest |unit| in a fixed-point frame — one tiny agg over the
    (checkpointed) frame, feeding the overflow guards below."""
    row = xi.select(
        F.max(
            F.aggregate(
                F.col("__xi"),
                F.lit(0).cast("bigint"),
                lambda a, b: F.greatest(a, F.abs(b)),
            )
        ).alias("m")
    ).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def _guard_int64(bound: int, what: str) -> None:
    """The exact-integer pipelines MUST NOT wrap silently: Spark's
    non-ANSI bigint arithmetic would return a plausible-looking wrong
    answer. Raise while the bound is still a Python int."""
    if bound >= 2**62:  # one bit of headroom under int64
        raise ValueError(
            f"integer fixed-point overflow risk in {what}: worst-case "
            f"magnitude {bound:.3g} approaches 2^63 — rescale the "
            "embeddings (or lower `scale`) before calling"
        )


def _assert_uniform_dim(xi: DataFrame, what: str) -> int:
    """Vector length of a fixed-point frame, REFUSING ragged corpora:
    ``zip_with`` pads the shorter side with NULL, so a length mismatch
    would make the exact BIGINT dot fold to NULL and the affected rows
    silently sort last / drop out of sums — a quiet wrong answer.
    One tiny agg (min==max of sizes) over the (checkpointed) frame."""
    row = xi.select(
        F.min(F.size("__xi")).alias("lo"), F.max(F.size("__xi")).alias("hi")
    ).first()
    if row is None or row["lo"] is None:
        raise ValueError(f"{what}: empty corpus")
    if row["lo"] != row["hi"]:
        raise ValueError(
            f"{what}: ragged embedding lengths ({row['lo']}..{row['hi']}) "
            "— zip_with would NULL-pad and the integer dot would fold to "
            "NULL silently; make the vector column uniform first"
        )
    return int(row["hi"])


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right float fold — DuckDB ``list_sum`` over a
    DOUBLE list folds in the same order, so the value is bit-identical
    across the two engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _deflate(sd: list[float], prev: list[list[int]]) -> list[float]:
    """Project ``sd`` orthogonal to each previously-found unit
    direction (classical deflation): ``sd ← sd − (sd·v / v·v)·v``,
    applied in discovery order. All IEEE double ops on
    correctly-rounded inputs — engine-replayable."""
    for v in prev:
        vf = [float(u) for u in v]
        c = _seq_dot(sd, vf) / _seq_dot(vf, vf)
        sd = [x - c * y for x, y in zip(sd, vf)]
    return sd


def power_iteration_directions(
    corpus: DataFrame,
    n_directions: int = 1,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> list[list[int]]:
    """Top-r eigendirections of ``X^T X`` in integer units, by von
    Mises power iteration with driver-side deflation.

    Each iteration is two exact distributed jobs over the fixed-point
    frame: ``z_d = x_d · v`` (BIGINT fold per row) and ``s_j = Σ_d
    z_d · x_dj`` (posexplode → groupBy(j), DECIMAL(38,0)-exact sums —
    map-side combined, ``dim`` result rows). Only the dim-long ``s``
    vector reaches the driver, where it is deflated against the
    already-found directions (projection subtraction in IEEE doubles,
    sequential folds — bit-identical on any engine), normalized and
    re-scaled to units for the next pass. Init per direction: the
    all-ones vector, deflated the same way (deterministic,
    engine-free). The corpus never leaves the executors; driver data
    is O(dim) per iteration — the same control-plane discipline as
    ``ivf_train_centroids``. Returned directions are orthogonal up to
    unit rounding (|v_a·v_b| ≤ dim·scale units, pinned by the
    orthogonality property test)."""
    import math

    xi = _fixed_point_vectors(corpus, id_col, vec_col, scale).localCheckpoint()
    dim = _assert_uniform_dim(xi, "power_iteration_directions")
    bmax = _max_abs_units(xi)
    dirs: list[list[int]] = []
    for _ in range(max(1, n_directions)):
        v = [_round_units(x) for x in _deflate([float(scale)] * dim, dirs)]
        for _ in range(iters):
            # |z| <= dim·bmax·|v|max. Only the int64 dot can wrap
            # SILENTLY — the DECIMAL(38,0) matvec sum overflows loudly
            # (null/raise under Spark's decimal rules), so the guard
            # covers the quiet case. Re-checked per pass: deflated
            # iterates can exceed `scale` slightly.
            _guard_int64(
                dim * bmax * max(max((abs(u) for u in v), default=0), 1),
                "power_iteration_directions",
            )
            s_rows = (
                xi.select(_int_dot(F.col("__xi"), v).alias("__z"), "__xi")
                .select("__z", F.posexplode("__xi").alias("__j", "__xv"))
                .groupBy("__j")
                .agg(
                    F.sum(
                        F.col("__z").cast("decimal(20,0)")
                        * F.col("__xv").cast("decimal(18,0)")
                    ).alias("__s")
                )
                .collect()
            )
            s = {r["__j"]: int(r["__s"]) for r in s_rows}
            sd = _deflate([float(s.get(j, 0)) for j in range(dim)], dirs)
            norm = math.sqrt(_seq_dot(sd, sd))
            if norm == 0.0:
                raise ValueError(
                    "power_iteration_directions: zero matvec (all-zero "
                    "corpus or direction annihilated)"
                )
            v = [_round_units(x / norm * scale) for x in sd]
        dirs.append(v)
    return dirs


def power_iteration_top_direction(
    corpus: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> list[int]:
    """Dominant eigendirection of ``X^T X`` in integer units — the
    r=1 case of :func:`power_iteration_directions` (deflation is a
    no-op with no prior directions, so the trajectory is unchanged)."""
    return power_iteration_directions(
        corpus, 1, iters=iters, id_col=id_col, vec_col=vec_col, scale=scale
    )[0]


def _round_units(x: float) -> int:
    """HALF_UP round to integer — twin of Spark F.round / DuckDB ROUND."""
    import decimal

    return int(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("1"), rounding=decimal.ROUND_HALF_UP
        )
    )


def principal_projections(
    corpus: DataFrame,
    v_units: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    validate: bool = True,
) -> DataFrame:
    """Project every vector onto a unit-direction: ``(id, proj_units
    BIGINT exact, proj double)`` — one expression-only scan. ``proj``
    rescales by ``scale²`` (vector units × direction units).
    ``validate`` as in :func:`principal_projections_multi`."""
    xi = _fixed_point_vectors(corpus, id_col, vec_col, scale)
    if validate:
        dim = _assert_uniform_dim(xi, "principal_projections")
        if dim != len(v_units):
            raise ValueError(
                f"principal_projections: direction length {len(v_units)} "
                f"!= corpus embedding length {dim}"
            )
    z = _int_dot(F.col("__xi"), v_units)
    return xi.select(
        id_col,
        z.alias("proj_units"),
        F.round(z.cast("double") / F.lit(float(scale) ** 2), 6).alias("proj"),
    )


def principal_projections_multi(
    corpus: DataFrame,
    directions: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    validate: bool = True,
) -> DataFrame:
    """Project every vector onto SEVERAL unit directions in one
    expression-only scan: ``(id, proj1_units, proj1, proj2_units,
    proj2, ...)`` — the top-r companion of
    :func:`power_iteration_directions` (one corpus pass regardless of
    r, instead of r scans + an r-way join). ``validate`` refuses a
    ragged corpus / direction-length mismatch up front (the
    NULL-folding dot hazard) at the cost of one extra column-pruned
    scan — pass ``False`` only when the same frame was just validated
    by the direction trainer."""
    if not directions:
        raise ValueError("principal_projections_multi: no directions")
    dlens = {len(v) for v in directions}
    if len(dlens) != 1:
        raise ValueError(
            f"principal_projections_multi: direction lengths differ {dlens}"
        )
    xi = _fixed_point_vectors(corpus, id_col, vec_col, scale)
    if validate:
        dim = _assert_uniform_dim(xi, "principal_projections_multi")
        if dim != next(iter(dlens)):
            raise ValueError(
                f"principal_projections_multi: direction length "
                f"{next(iter(dlens))} != corpus embedding length {dim}"
            )
    cols: list[Column] = [F.col(id_col)]
    for i, v in enumerate(directions, 1):
        z = _int_dot(F.col("__xi"), v)
        cols.append(z.alias(f"proj{i}_units"))
        cols.append(
            F.round(z.cast("double") / F.lit(float(scale) ** 2), 6).alias(
                f"proj{i}"
            )
        )
    return xi.select(*cols)


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (Gonzalez 1985 farthest-first
# traversal; Sener & Savarese 2018 as the data-selection framing):
# pick k corpus vectors such that every vector is close to some
# pick — the classic diversity-selection / coreset primitive for
# training-data curation. Exact integer arithmetic end to end
# (fixed-point squared L2), so selection and assignment are
# bit-reproducible on any engine — the DuckDB oracle replays every
# greedy round.
# ---------------------------------------------------------------------------
#: Hard cap on the greedy selectors' k: round r inlines one
#: O(dim)-literal distance/dot expression PER already-picked row, so
#: the round-r plan carries an O(r·dim)-literal tree — O(k²·dim) over
#: the trajectory. Somewhere in the hundreds that blows up Catalyst
#: analysis time and eventually the 64KB codegen method limit. Same
#: enforced-cap discipline as ``classify.hashed_token_features``; the
#: scale path for larger k is to broadcast-JOIN the selected set as a
#: frame (centers as rows, one zip_with dot against an array column)
#: instead of inlining literals.
GREEDY_SELECT_MAX_K = 128


def _guard_greedy_k(k: int, what: str) -> None:
    if k > GREEDY_SELECT_MAX_K:
        raise ValueError(
            f"{what}: k={k} exceeds GREEDY_SELECT_MAX_K="
            f"{GREEDY_SELECT_MAX_K} — the greedy rounds inline an "
            "O(k²·dim)-literal expression tree (a Catalyst/codegen "
            "hazard); broadcast-join the selected set instead for "
            "larger k"
        )


def _sq_dist_units(vec_col: Column, units: list[int]) -> Column:
    """Exact BIGINT squared L2 between an integer array column and
    literal units."""
    w = F.array(*[F.lit(int(u)).cast("bigint") for u in units])
    return F.aggregate(
        F.zip_with(vec_col, w, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )


def kcenter_select(
    corpus: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> list[tuple]:
    """Farthest-first traversal: returns ``[(id, units), ...]`` — the
    k greedy centers. Seed: the vector with the lowest ``md5(id)``
    (the package's deterministic, engine-reproducible sampling
    order — same discipline as the IVF seeds). Each further round
    broadcasts the current centers as literals and takes the row
    MAXIMIZING its distance-to-nearest-center (TakeOrdered, ties on
    id ascending) — one control-plane-sized job per round, the
    corpus never leaves the executors. All distances are exact
    BIGINT squared-L2 in fixed-point units: zero float ops anywhere,
    so the greedy trajectory is bit-deterministic.
    """
    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    _guard_greedy_k(k, "kcenter_select")
    xi = _fixed_point_vectors(corpus, id_col, vec_col, scale).localCheckpoint()
    bmax = _max_abs_units(xi)
    # squared L2 <= dim·(2·bmax)² — silent int64 wrap forbidden; the
    # dim probe also refuses ragged corpora (NULL-folding dots)
    dim = _assert_uniform_dim(xi, "kcenter_select")
    _guard_int64(dim * (2 * bmax) ** 2, "kcenter_select")
    seed = (
        xi.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(1)
        .collect()
    )
    if not seed:
        raise ValueError("kcenter_select: empty corpus")
    centers = [(seed[0][id_col], [int(x) for x in seed[0]["__xi"]])]
    for _ in range(1, k):
        mind = F.least(
            *[_sq_dist_units(F.col("__xi"), u) for _, u in centers]
        ) if len(centers) > 1 else _sq_dist_units(
            F.col("__xi"), centers[0][1]
        )
        far = (
            xi.select(id_col, "__xi", mind.alias("__d"))
            .orderBy(F.col("__d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        r = far[0]
        if r["__d"] == 0:
            break  # every remaining vector coincides with a center
        centers.append((r[id_col], [int(x) for x in r["__xi"]]))
    return centers


def kcenter_assign(
    corpus: DataFrame,
    centers: list[tuple],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Assign every vector to its nearest greedy center: ``(id,
    center_id, dist_units)`` — ties by center RANK (selection order),
    the deterministic greedy contract. One expression-only scan:
    distances to all k centers fold per row, ``array_min`` over
    ``(dist, rank)`` structs picks the winner — no join, no shuffle.
    """
    xi = _fixed_point_vectors(corpus, id_col, vec_col, scale)
    scored = F.array_sort(
        F.array(
            *[
                F.struct(
                    _sq_dist_units(F.col("__xi"), u).alias("d"),
                    F.lit(i).cast("int").alias("rank"),
                )
                for i, (_, u) in enumerate(centers)
            ]
        )
    )[0]
    # center ids keep the corpus id column's OWN type (a bigint cast
    # would NULL out string ids silently)
    id_type = corpus.schema[id_col].dataType
    rank_to_id = F.array(
        *[F.lit(cid).cast(id_type) for cid, _ in centers]
    )
    return xi.select(
        id_col,
        F.element_at(rank_to_id, scored.getField("rank") + 1).alias(
            "center_id"
        ),
        scored.getField("d").alias("dist_units"),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
# relevance-vs-redundancy selection — the retrieval-diversification /
# few-shot-example-selection primitive. Same integer fixed-point
# greedy machinery as k-center: exact BIGINT inner products, rational
# lambda as an integer weighting, bit-deterministic trajectory the
# oracle replays round by round.
# ---------------------------------------------------------------------------
def mmr_select(
    corpus: DataFrame,
    query_units: list[int],
    k: int = 4,
    lam_num: int = 1,
    lam_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list | None = None,
    scale: int = 10**6,
) -> list[dict]:
    """Greedy MMR over inner-product scores: round r picks the row
    maximizing ``lam_num·rel − (lam_den−lam_num)·max_sim_to_selected``
    (ties id ASC) — with the default λ=1/2 that is ``rel − max_sim``
    scaled by 2. ``rel`` and ``sim`` are exact BIGINT fixed-point
    inner products (query side via ``query_units``, also in units).
    One TakeOrdered job per round over a checkpointed relevance
    frame; only the k picked rows' units reach the driver. Returns
    ``[{id, rank, rel_units, max_prev_sim_units}, ...]`` —
    ``max_prev_sim_units`` is None for the first pick (pure
    relevance, the MMR base case).
    """
    if k < 1:
        raise ValueError("mmr_select: k must be >= 1")
    _guard_greedy_k(k, "mmr_select")
    if not 0 < lam_num <= lam_den:
        raise ValueError("mmr_select: need 0 < lam_num <= lam_den")
    xi = _fixed_point_vectors(corpus, id_col, vec_col, scale)
    if exclude_ids:
        xi = xi.where(~F.col(id_col).isin(list(exclude_ids)))
    xi = xi.localCheckpoint()
    # a ragged corpus would NULL-fold the dots (rows silently sort
    # last); the query vector must share the corpus dim for the same
    # reason
    dim = _assert_uniform_dim(xi, "mmr_select")
    if dim != len(query_units):
        raise ValueError(
            f"mmr_select: query vector length {len(query_units)} != "
            f"corpus embedding length {dim}"
        )
    # score = lam_num·rel − (lam_den−lam_num)·max_sim: every term is a
    # dim·bmax·max(bmax, |q|max) dot times a lambda weight. Guard
    # BEFORE the relevance dot — under ANSI the overflow would raise
    # mid-job with a bare ArithmeticException, and on a non-ANSI
    # session it would wrap silently.
    bmax = _max_abs_units(xi)
    qmax = max((abs(int(u)) for u in query_units), default=0)
    _guard_int64(
        lam_den * len(query_units) * bmax * max(bmax, qmax), "mmr_select"
    )
    rel = xi.select(
        id_col, "__xi", _int_dot(F.col("__xi"), query_units).alias("__rel")
    )
    picks: list[dict] = []
    sims: list[Column] = []
    for rank in range(1, k + 1):
        cand = rel.where(
            ~F.col(id_col).isin([p["id"] for p in picks])
        ) if picks else rel
        if sims:
            redundancy = F.greatest(*sims) if len(sims) > 1 else sims[0]
            score = (
                F.lit(int(lam_num)).cast("bigint") * F.col("__rel")
                - F.lit(int(lam_den - lam_num)).cast("bigint") * redundancy
            )
        else:
            redundancy = F.lit(None).cast("bigint")
            score = F.col("__rel")
        row = (
            cand.select(
                id_col, "__xi", "__rel",
                score.alias("__score"), redundancy.alias("__red"),
            )
            .orderBy(F.col("__score").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not row:
            break
        r = row[0]
        units = [int(x) for x in r["__xi"]]
        max_prev = None if r["__red"] is None else int(r["__red"])
        picks.append(
            {
                "id": r[id_col],
                "rank": rank,
                "rel_units": int(r["__rel"]),
                "max_prev_sim_units": max_prev,
            }
        )
        sims.append(_int_dot(F.col("__xi"), units))
    return picks
