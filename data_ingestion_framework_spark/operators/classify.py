"""In-engine trained linear quality classifier (beyond-reference
surface: a fastText-style quality filter trained INSIDE the engine).

Large-scale training-data pipelines gate documents with a learned
quality model (fastText / logistic classifiers in CCNet, LLaMA and
GPT-3 data work — Joulin et al. 2016; hashing trick: Weinberger et
al. 2009). This module trains one distributedly: hashed token-count
features (md5 mod D — engine-reproducible, no RNG), full-batch
gradient descent where each step is ONE aggregation job, and a final
scoring scan. The corpus never leaves the executors; the only
driver-side data is the (D+1)-long gradient vector per step —
control-plane sized by construction, the same shape discipline as
``similarity.ivf_train_centroids``.

Cross-engine exactness (the package's integer fixed-point
discipline, cf. the Viterbi/BPE operators in ``text.py``): weights
live in integer units (scale 1e6), features are integer counts, so
every dot product and every gradient accumulates EXACTLY in BIGINT —
no float-summation-order hazard anywhere. The only float ops per
step are the link function on an integer-derived double and one
correctly-rounded division in the weight update, both bit-identical
across IEEE-754 engines. The link is the RATIONAL sigmoid surrogate
``σ(z) = 0.5 + z / (2·(1+|z|))`` — algebraic (+, |·|, /) instead of
``exp``, because libm ``exp`` is allowed to differ by ULPs across
engines while IEEE +,·,/ are not. It is monotone, maps onto (0,1),
and equals the logistic at 0 — gradient descent with ``σ(z)−y``
residuals is then plain robust-regression GD the DuckDB oracle can
replay bit-for-bit.

Scale shape at 100 TB: the feature build is a pure column expression
over the documents scan (whole-stage codegen, zero shuffles); each
GD step shuffles only (feature_index, partial_sum) pairs — map-side
combined, ≤ D+1 rows per partition; scoring is another pure
expression scan. Steps are driver round-trips exactly like the BPE
trainer's merge rounds.

Two feature layouts share the same trainer contract:

- **dense** (``hashed_token_features``): one ``array<bigint>`` column
  per row, capped at D ≤ 4096 — the per-row fold is O(D·tokens).
- **sparse** (``hashed_token_features_sparse``): long-format
  ``(id, label, bucket, count)`` triples for fastText-width feature
  spaces (CCNet-style quality filters) where the dense fold is
  rightly refused. The shuffle carries only the NONZERO (id, bucket,
  count) triples; each GD step is a broadcast weight join + two
  aggs, and only the (D+1)-long gradient reaches the driver.
  ``quality_lr_pipeline(sparse=True)`` threads it end-to-end;
  ``tests/test_classify.py`` pins dense/sparse weight parity at
  D=16. Width contract: the TRAINER holds the (D+1)-long weight list
  at the driver and re-uploads its nonzero entries every step, so
  ``n_features`` is capped at ``SPARSE_FEATURES_MAX`` (2^20) — an
  enforced raise, not an assumption. Past that, per-step driver work
  (a D-entry list comprehension, a D-row createDataFrame upload and
  a ~16·D-byte broadcast) overtakes the executors; the next width
  tier is ``gd_train_sparse_distributed`` — weights AS a DataFrame
  with a bucket-keyed join update, no width parameter anywhere, and
  bit-identical trained weights (parity-pinned).

Every exact-integer sum is overflow-guarded BEFORE launching the job
(``similarity._guard_int64`` — on a non-ANSI session BIGINT wraps
silently into plausible-looking wrong weights): the gradient bound is
``n_rows · UNIT_SCALE · max_count`` and the dot bound is
``max|w| · max_row_count_sum``, both from one small stats agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_framework_spark.operators.skew import spread_for_compute
from data_ingestion_framework_spark.operators.text import normalize_text
from data_ingestion_framework_spark.session import local_frame

#: Weight fixed-point scale: 1 unit = 1e-6 of real weight.
UNIT_SCALE = 10**6

#: Sparse-trainer width cap. The trainer's driver state is the
#: (D+1)-long Python weight list, re-built and re-uploaded (nonzero
#: entries) each GD step; at 2^20 that is ~8 MB of driver work per
#: step — still control-plane sized. Past it the driver becomes the
#: trainer's bottleneck (the benched fastText configs use 2^16-2^21
#: buckets; CCNet's published filter is 2^21 ≈ this cap). Enforced,
#: not assumed — the same discipline as similarity.GREEDY_SELECT_MAX_K.
SPARSE_FEATURES_MAX = 1 << 20


def _tokens(text_col: str) -> Column:
    # NULL text is an EMPTY document (zero token features, intercept
    # still 1), not a NULL row: without the coalesce the dense fold
    # would yield NULL features while the sparse explode would drop
    # the document entirely — silently divergent n_rows between the
    # two trainers
    return F.filter(
        F.split(F.coalesce(normalize_text(text_col), F.lit("")), " "),
        lambda t: t != F.lit(""),
    )


def _dense_features_expr(text_col: str, n_features: int) -> Column:
    """The dense hashed-count feature vector as a pure Column
    expression (``n_features`` counts + the intercept 1) — shared by
    the feature-frame builder and by :func:`quality_lr_gate`, whose
    deployment filter evaluates it INSIDE the corpus scan with no
    join."""
    toks = _tokens(text_col)
    hs = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
        .cast("bigint")
        % n_features,
    )
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("bigint"), n_features),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(n_features - 1)),
            lambda a, j: a
            + F.when(j.cast("bigint") == h, F.lit(1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
    )
    return F.concat(counts, F.array(F.lit(1).cast("bigint")))


def hashed_token_features(
    df: DataFrame,
    text_col: str = "text",
    n_features: int = 16,
    id_col: str = "doc_id",
    label: Column | None = None,
) -> DataFrame:
    """``(id, [label,] features)`` — hashed bag-of-words counts.

    Feature ``j`` of a document counts its tokens whose
    ``md5`` 15-hex-prefix integer ≡ j (mod ``n_features``) — the
    hashing trick with an engine-reproducible hash (DuckDB replays it
    as ``('0x' || substr(md5(t),1,15))::BIGINT % D``). Index
    ``n_features`` is the intercept (constant 1). Pure column
    expression: one pass, no shuffle, O(D · tokens) work per row —
    which is why ``n_features`` is capped at 4096: a fastText-width
    feature space (millions of buckets) needs an explode → groupBy
    sparse build, not this dense fold, and silently accepting it
    would turn the scan quadratic-ish. The cap is enforced, not
    assumed.
    """
    if not 1 <= n_features <= 4096:
        raise ValueError(
            f"hashed_token_features: n_features={n_features} outside "
            "[1, 4096] — the dense per-row fold is O(D·tokens); use a "
            "sparse explode/groupBy build for wider feature spaces"
        )
    feats = _dense_features_expr(text_col, n_features)
    cols = [F.col(id_col), feats.alias("features")]
    if label is not None:
        cols.insert(1, label.cast("int").alias("label"))
    return spread_for_compute(df).select(*cols)


# The exact-BIGINT dot, the HALF_UP round twin and the int64 overflow
# guard are the package-wide fixed-point primitives — one definition
# (similarity.py) keeps the cross-engine exactness contract in one
# place.
from data_ingestion_framework_spark.operators.similarity import (  # noqa: E402
    _guard_int64,
)
from data_ingestion_framework_spark.operators.similarity import (  # noqa: E402
    _int_dot as _z_units,
)
from data_ingestion_framework_spark.operators.similarity import (  # noqa: E402
    _round_units as _round_half_up,
)


def _dense_feat_stats(feats: DataFrame, feat_col: str) -> tuple[int, int]:
    """``(max_count, max_row_sum)`` over a dense feature frame — one
    small agg feeding the overflow guards (counts are non-negative by
    construction, so ``greatest`` is the max). An empty frame yields
    ``(0, 0)``: nothing can overflow, and scoring an empty frame must
    stay a no-op (the TRAINERS refuse emptiness themselves — the
    gradient divisor needs n_rows > 0)."""
    zero = F.lit(0).cast("bigint")
    row = feats.select(
        F.max(
            F.aggregate(F.col(feat_col), zero, lambda a, b: F.greatest(a, b))
        ).alias("mx"),
        F.max(
            F.aggregate(F.col(feat_col), zero, lambda a, b: a + b)
        ).alias("rs"),
    ).first()
    if row is None or row["mx"] is None:
        return 0, 0
    return int(row["mx"]), int(row["rs"])


def _surrogate_sigmoid(z_units: Column) -> Column:
    """``0.5 + z/(2(1+|z|))`` on ``z = z_units/1e6`` — identical
    IEEE doubles on every engine (no transcendentals)."""
    z = z_units.cast("double") / F.lit(float(UNIT_SCALE))
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def gd_train_linear_units(
    feats: DataFrame,
    iters: int = 2,
    lr: float = 0.5,
    feat_col: str = "features",
    label_col: str = "label",
) -> list[int]:
    """Full-batch GD; returns the trained weights in integer units.

    Per step (one aggregation job over the cached feature frame):
    residual units ``g = round((σ(x·w) − y)·1e6)`` per row, exact
    BIGINT gradient ``grad_j = Σ g·x_j`` via posexplode →
    groupBy(j) — map-side combined, D+1 result rows — and the
    integer update ``w_j ← w_j − round(lr·grad_j / N)`` at the
    driver. ``lr`` should be an exactly-representable binary
    fraction (0.5, 0.25) so the update is correctly rounded from
    identical inputs on every engine.
    """
    return _gd_train_dense_with_stats(feats, iters, lr, feat_col, label_col)[0]


def _gd_train_dense_with_stats(
    feats: DataFrame,
    iters: int,
    lr: float,
    feat_col: str,
    label_col: str,
    empty_ok: bool = False,
) -> tuple[list[int], int, DataFrame] | None:
    """``(weights, max_row_sum, feats_ckpt)`` — the trainer body, also
    handing the scoring guard its bound so the pipeline never re-scans
    for stats, and the CHECKPOINTED feature frame (all input columns
    intact) so the caller's scoring pass reads the materialization the
    training already paid for instead of re-running the tokenize→hash
    →fold lineage.

    Job discipline (r15 opt): checkpoint FIRST, then ONE fused stats
    agg (n_rows, width, max_count, max_row_sum) over the materialized
    frame — the previous shape paid a separate width probe over the
    UNCHECKPOINTED frame (re-running the whole upstream plan), then a
    count, then the stats agg: three driver round-trips where one
    suffices. Width via ``first(size(x))`` is exact because the dense
    builder emits a constant-width array on every row.

    r16 opt (guide §5): the checkpoint is LAZY — the stats agg is a
    full-scan action (global aggregate, every partition computed), so
    it materializes the checkpoint in the SAME job; the eager form
    paid a separate materialization job plus one extra pass over the
    cached frame, per training call."""
    feats = feats.localCheckpoint(eager=False)
    zero = F.lit(0).cast("bigint")
    stats = feats.select(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(feat_col)).alias("d"),
        F.max(
            F.aggregate(F.col(feat_col), zero, lambda a, b: F.greatest(a, b))
        ).alias("mx"),
        F.max(
            F.aggregate(F.col(feat_col), zero, lambda a, b: a + b)
        ).alias("rs"),
    ).first()
    if stats is None or stats["n"] == 0:
        if empty_ok:
            # the gates fold their emptiness probe into this stats agg
            # (r16 opt): an empty frame is a legal gate input (return
            # the input unchanged), not a trainer error
            return None
        raise ValueError("gd_train_linear_units: empty training frame")
    n_rows = int(stats["n"])
    n_features = int(stats["d"])
    max_count = int(stats["mx"]) if stats["mx"] is not None else 0
    row_sum_max = int(stats["rs"]) if stats["rs"] is not None else 0
    # grad_j = Σ_rows g·x_j with |g| <= UNIT_SCALE — silent BIGINT wrap
    # on a non-ANSI session would yield plausible wrong weights
    _guard_int64(
        n_rows * UNIT_SCALE * max(max_count, 1),
        "gd_train_linear_units gradient",
    )
    w = [0] * n_features
    for _ in range(iters):
        maxw = max((abs(x) for x in w), default=0)
        # |x·w| <= max|w| · Σ_j x_j — guard before each scoring pass
        _guard_int64(maxw * row_sum_max, "gd_train_linear_units dot")
        g = F.round(
            (
                _surrogate_sigmoid(_z_units(F.col(feat_col), w))
                - F.col(label_col).cast("double")
            )
            * F.lit(float(UNIT_SCALE))
        ).cast("bigint")
        # generator in its own projection (struct-lambda canonicalization,
        # same pattern as ivf_train_centroids)
        grad_rows = (
            feats.select(g.alias("__g"), F.col(feat_col).alias("__x"))
            .select("__g", F.posexplode("__x").alias("__j", "__xv"))
            .groupBy("__j")
            .agg(F.sum(F.col("__g") * F.col("__xv")).alias("__grad"))
            .collect()
        )
        grad = {r["__j"]: r["__grad"] for r in grad_rows}
        w = [
            w[j] - _round_half_up(lr * grad.get(j, 0) / n_rows)
            for j in range(n_features)
        ]
    return w, row_sum_max, feats


def linear_classifier_scores(
    feats: DataFrame,
    w_units: list[int],
    feat_col: str = "features",
    row_sum_max: int | None = None,
) -> DataFrame:
    """Score a feature frame under trained unit weights: appends
    ``score_units`` (exact BIGINT logit units), ``prob`` (surrogate
    sigmoid, rounded 6) and ``pred``. Pure expression scan; the
    ``x·w`` fold is guarded against silent int64 wrap first —
    ``row_sum_max`` skips the stats scan when the caller (the
    pipeline) already measured it on the training frame."""
    if row_sum_max is None:
        _, row_sum_max = _dense_feat_stats(feats, feat_col)
    maxw = max((abs(int(x)) for x in w_units), default=0)
    _guard_int64(maxw * row_sum_max, "linear_classifier_scores dot")
    z = _z_units(F.col(feat_col), w_units)
    return feats.select(
        "*",
        z.alias("score_units"),
        F.round(_surrogate_sigmoid(z), 6).alias("prob"),
        (z >= 0).alias("pred"),
    )


def hashed_token_features_sparse(
    df: DataFrame,
    text_col: str = "text",
    n_features: int = 65536,
    id_col: str = "doc_id",
    label: Column | None = None,
) -> DataFrame:
    """Long-format hashed bag-of-words: ``(id, [label,] bucket, count)``
    — the fastText-width layout the dense fold refuses above D=4096.

    Bucket ``j`` ∈ [0, D) counts tokens with md5 15-hex-prefix ≡ j
    (mod D), the SAME engine-reproducible hash as the dense builder;
    bucket ``D`` is the intercept (count 1 for every document,
    including token-less ones — appended to the hash array before the
    explode so the whole build is ONE scan). Only NONZERO triples
    exist: the shuffle carries (id, bucket, count) with map-side
    combine, never a D-wide row — O(tokens) work regardless of D.
    The BUILDER is therefore width-unbounded; what bounds the width
    is the consumer: the driver-list trainer refuses D >
    ``SPARSE_FEATURES_MAX`` (its per-step driver work is D-sized),
    while :func:`gd_train_sparse_distributed` accepts any width."""
    if n_features < 1:
        raise ValueError(
            f"hashed_token_features_sparse: n_features={n_features} < 1"
        )
    hs = F.transform(
        _tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
        .cast("bigint")
        % n_features,
    )
    all_j = F.concat(hs, F.array(F.lit(n_features).cast("bigint")))
    cols = [F.col(id_col)]
    grp = [id_col]
    if label is not None:
        cols.append(label.cast("int").alias("label"))
        grp.append("label")
    rows = spread_for_compute(df).select(
        *cols, F.explode(all_j).alias("bucket")
    )
    return rows.groupBy(*grp, "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("count")
    )


def _sparse_feat_stats(triples: DataFrame, id_col: str) -> tuple[int, int, int]:
    """``(n_rows, max_count, max_row_sum)`` over a sparse triple frame
    — one groupBy(id) agg (every document has its intercept row, so
    the group count IS the document count)."""
    per_doc = triples.groupBy(id_col).agg(
        F.sum("count").alias("__rs"), F.max("count").alias("__mx")
    )
    row = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__mx").alias("mx"),
        F.max("__rs").alias("rs"),
    ).first()
    if row is None or row["n"] == 0:
        # scoring an empty frame is a no-op; the TRAINER refuses
        # emptiness itself (its gradient divisor needs n_rows > 0)
        return 0, 0, 0
    return int(row["n"]), int(row["mx"]), int(row["rs"])


def _nonzero_weight_frame(triples: DataFrame, w: list[int]) -> DataFrame:
    """Driver weights → a broadcastable ``(bucket, __w)`` frame of the
    NONZERO entries only (zero-weight buckets contribute nothing to
    the dot; a left join + coalesce(0) restores them exactly)."""
    spark = triples.sparkSession
    nz = [(j, int(u)) for j, u in enumerate(w) if u != 0]
    return local_frame(spark, nz, "bucket bigint, __w bigint")


def _sparse_scores_units_frame(
    triples: DataFrame, wdf: DataFrame, grp: list[str], broadcast: bool
) -> DataFrame:
    """``grp + (score_units)`` — the sparse dot against a ``(bucket,
    __w)`` NONZERO weight frame: left-join on bucket (zero-weight
    buckets contribute nothing; coalesce(0) restores them exactly),
    one map-side-combined sum per doc. ``broadcast`` forces the
    driver-list path's broadcast; the distributed trainer leaves the
    strategy to the planner (its weight frame may be bucket-domain
    sized)."""
    if broadcast:
        wdf = F.broadcast(wdf)
    return (
        triples.join(wdf, "bucket", "left")
        .groupBy(*grp)
        .agg(
            F.sum(
                F.col("count") * F.coalesce(F.col("__w"), F.lit(0).cast("bigint"))
            ).alias("score_units")
        )
    )


def _sparse_scores_units(triples: DataFrame, w: list[int], grp: list[str]) -> DataFrame:
    """``grp + (score_units)`` — the sparse dot: broadcast the nonzero
    weights, left-join on bucket, one map-side-combined sum per doc."""
    return _sparse_scores_units_frame(
        triples, _nonzero_weight_frame(triples, w), grp, broadcast=True
    )


def _sparse_gd_gradient(
    t: DataFrame, wdf: DataFrame, broadcast: bool
) -> DataFrame:
    """ONE GD step's gradient frame ``(bucket, __grad)`` over renamed
    triples ``(__id, __y, bucket, count)`` under a ``(bucket, __w)``
    weight frame: per-doc logit (sparse dot) → residual units
    ``g = round((σ(z)−y)·1e6)`` → ``grad_j = Σ g·x_j`` via a
    bucket-keyed agg. The SINGLE definition both sparse trainers
    share — the bit-identical-weights parity between them (and the
    DuckDB GD unroll oracles) rides on this step being one piece of
    code, not two hand-synced copies."""
    z = _sparse_scores_units_frame(t, wdf, ["__id", "__y"], broadcast)
    g = z.select(
        "__id",
        F.round(
            (
                _surrogate_sigmoid(F.col("score_units"))
                - F.col("__y").cast("double")
            )
            * F.lit(float(UNIT_SCALE))
        )
        .cast("bigint")
        .alias("__g"),
    )
    return (
        t.join(g, "__id")
        .groupBy("bucket")
        .agg(F.sum(F.col("__g") * F.col("count")).alias("__grad"))
    )


def gd_train_linear_units_sparse(
    triples: DataFrame,
    n_features: int,
    iters: int = 2,
    lr: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> list[int]:
    """Full-batch GD over SPARSE triples; returns ``n_features + 1``
    integer-unit weights — bit-identical to the dense trainer on the
    same corpus (pinned by the D=16 parity test).

    Per step: per-doc logit ``z`` via a broadcast nonzero-weight join
    + one groupBy(id) sum; residual units ``g = round((σ(z)−y)·1e6)``;
    exact BIGINT gradient ``grad_j = Σ g·x_j`` via a shuffle join of
    the triples with the doc-level residual frame + groupBy(bucket) —
    map-side combined, ≤ D+1 result rows to the driver; integer
    update at the driver. Never materializes a D-wide anything:
    driver state is the (D+1)-long weight list, executor state the
    nonzero triples."""
    return _gd_train_sparse_with_stats(
        triples, n_features, iters, lr, id_col, label_col
    )[0]


def _gd_train_sparse_with_stats(
    triples: DataFrame,
    n_features: int,
    iters: int,
    lr: float,
    id_col: str,
    label_col: str,
    pre_materialized: bool = False,
    empty_ok: bool = False,
) -> tuple[list[int], int] | None:
    """``(weights, max_row_sum)`` — sparse trainer body; the second
    element feeds the scoring guard without another stats scan.
    ``pre_materialized=True`` promises the caller already
    localCheckpointed ``triples`` (the pipeline does, so the scorer
    can reuse the same materialization) — the trainer then skips its
    own checkpoint and its renames stay a cheap projection."""
    if not 1 <= n_features <= SPARSE_FEATURES_MAX:
        raise ValueError(
            f"gd_train_linear_units_sparse: n_features={n_features} "
            f"outside [1, {SPARSE_FEATURES_MAX}] — the driver-side "
            "weight list is (n_features + 1) long; use "
            "gd_train_sparse_distributed (width-unbounded weight "
            "frame), not a bigger cap"
        )
    t = triples.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("int").alias("__y"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("count").cast("bigint").alias("count"),
    )
    if not pre_materialized:
        # lazy: the stats agg below is a full-scan action and
        # materializes the checkpoint in the same job (r16 opt)
        t = t.localCheckpoint(eager=False)
    n_rows, max_count, row_sum_max = _sparse_feat_stats(t, "__id")
    if n_rows == 0:
        if empty_ok:
            return None
        raise ValueError("gd_train_linear_units_sparse: empty training frame")
    _guard_int64(
        n_rows * UNIT_SCALE * max(max_count, 1),
        "gd_train_linear_units_sparse gradient",
    )
    w = [0] * (n_features + 1)
    for _ in range(iters):
        maxw = max((abs(x) for x in w), default=0)
        _guard_int64(maxw * row_sum_max, "gd_train_linear_units_sparse dot")
        grad_rows = _sparse_gd_gradient(
            t, _nonzero_weight_frame(t, w), broadcast=True
        ).collect()
        grad = {int(r["bucket"]): r["__grad"] for r in grad_rows}
        w = [
            w[j] - _round_half_up(lr * grad.get(j, 0) / n_rows)
            for j in range(n_features + 1)
        ]
    return w, row_sum_max


def linear_classifier_scores_sparse(
    triples: DataFrame,
    w_units: list[int],
    id_col: str = "doc_id",
    label_col: str | None = "label",
    row_sum_max: int | None = None,
) -> DataFrame:
    """Score sparse triples under trained unit weights: ``(id,
    [label,] score_units, prob, pred)`` — the sparse twin of
    :func:`linear_classifier_scores`, same guard discipline."""
    if row_sum_max is None:
        _, _, row_sum_max = _sparse_feat_stats(triples, id_col)
    maxw = max((abs(int(x)) for x in w_units), default=0)
    _guard_int64(maxw * row_sum_max, "linear_classifier_scores_sparse dot")
    grp = [id_col] + ([label_col] if label_col else [])
    z = _sparse_scores_units(triples, list(w_units), grp)
    return z.select(
        *grp,
        "score_units",
        F.round(_surrogate_sigmoid(F.col("score_units")), 6).alias("prob"),
        (F.col("score_units") >= 0).alias("pred"),
    )


def gd_train_sparse_distributed(
    triples: DataFrame,
    iters: int = 2,
    lr: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
    pre_materialized: bool = False,
) -> DataFrame:
    """The WIDTH-UNBOUNDED sparse trainer: weights live as a
    ``(bucket, __w)`` DataFrame of the NONZERO entries, never as a
    driver-side list — the tier past ``SPARSE_FEATURES_MAX`` that the
    capped trainer's raise points at. Notice no ``n_features``
    parameter at all: buckets are data, so the feature-space width
    never appears in driver memory, upload size, or plan constants.

    Per step (vs the capped trainer's broadcast-join + driver
    update): the same doc-logit left join and gradient agg, then the
    integer weight update is a bucket-keyed FULL OUTER join of the
    old weight frame with the gradient frame — executed entirely on
    the executors and localCheckpointed (the frame is bounded by the
    corpus's distinct nonzero buckets, and the checkpoint keeps the
    per-step lineage flat). The update expression is
    ``F.round(lr·grad/n)`` — Spark's HALF_UP round IS the driver
    twin's ``_round_units``, so the trained weights are BIT-IDENTICAL
    to :func:`gd_train_linear_units_sparse` on the same corpus
    (pinned by the parity tests) and the SAME DuckDB GD unroll
    oracles grade both. Zero-weight buckets are dropped after every
    update: absent-from-frame ≡ weight 0 under the coalesce(0) join,
    exactly the list trainer's zeros.

    Returns the nonzero ``(bucket, __w)`` frame; feed it to
    :func:`linear_classifier_scores_sparse_frame`."""
    return _gd_train_sparse_distributed_with_stats(
        triples, iters, lr, id_col, label_col, pre_materialized
    )[0]


def _gd_train_sparse_distributed_with_stats(
    triples: DataFrame,
    iters: int,
    lr: float,
    id_col: str,
    label_col: str,
    pre_materialized: bool = False,
    empty_ok: bool = False,
) -> tuple[DataFrame, int, int] | None:
    """``(weight_frame, max_row_sum, max_w_units)`` — distributed
    trainer body; the second element feeds the scorer's overflow guard
    without another stats scan (the same threading discipline as the
    list trainers), and the third is max|w| over the FINAL weight
    frame so the scorer's guard needs no extra agg job either.

    Per-iteration job discipline (r16 opt, guide §5 — the r15 verdict's
    task #4): the update's ``localCheckpoint`` is LAZY and the max|w|
    guard agg runs immediately after — a full-scan action that
    materializes the checkpoint in the SAME job, so each GD step costs
    ONE driver round-trip where the eager-checkpoint + next-step-agg
    shape cost two. The guard value feeds the NEXT step's overflow
    check (and, after the last step, the scorer's) — the same integers
    the old shape read one job later."""
    t = triples.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("int").alias("__y"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("count").cast("bigint").alias("count"),
    )
    if not pre_materialized:
        # lazy: materialized by the stats agg's full scan (r16 opt)
        t = t.localCheckpoint(eager=False)
    n_rows, max_count, row_sum_max = _sparse_feat_stats(t, "__id")
    if n_rows == 0:
        if empty_ok:
            return None
        raise ValueError("gd_train_sparse_distributed: empty training frame")
    _guard_int64(
        n_rows * UNIT_SCALE * max(max_count, 1),
        "gd_train_sparse_distributed gradient",
    )
    spark = triples.sparkSession
    wdf = local_frame(spark, [], "bucket bigint, __w bigint")
    # max|w| of the empty frame is 0 by construction (r15 opt) — each
    # iteration below refreshes it from the fused checkpoint+agg job
    maxw = 0
    for _ in range(iters):
        _guard_int64(maxw * row_sum_max, "gd_train_sparse_distributed dot")
        grad = _sparse_gd_gradient(t, wdf, broadcast=False)
        # w ← w − round(lr·grad/n): identical IEEE multiply/divide and
        # HALF_UP round as the driver-list update, per bucket; buckets
        # only in one side coalesce to (old 0) or (grad 0)
        wdf = (
            wdf.join(grad, "bucket", "full_outer")
            .select(
                "bucket",
                (
                    F.coalesce(F.col("__w"), F.lit(0).cast("bigint"))
                    - F.round(
                        F.lit(float(lr))
                        * F.coalesce(F.col("__grad"), F.lit(0).cast("bigint"))
                        .cast("double")
                        / F.lit(float(n_rows))
                    ).cast("bigint")
                ).alias("__w"),
            )
            .where(F.col("__w") != 0)
            .localCheckpoint(eager=False)
        )
        row = wdf.agg(F.max(F.abs(F.col("__w"))).alias("m")).first()
        maxw = int(row["m"]) if row is not None and row["m"] is not None else 0
    return wdf, row_sum_max, maxw


def linear_classifier_scores_sparse_frame(
    triples: DataFrame,
    wdf: DataFrame,
    id_col: str = "doc_id",
    label_col: str | None = "label",
    row_sum_max: int | None = None,
    max_w_units: int | None = None,
) -> DataFrame:
    """Score sparse triples under a ``(bucket, __w)`` weight FRAME —
    the scorer for :func:`gd_train_sparse_distributed`, same output
    contract and guard discipline as the list-weight scorer (the
    max|w| for the overflow guard comes from one small agg over the
    weight frame instead of the driver list; ``max_w_units`` skips
    that agg when the caller already holds the trainer's fused guard
    value — r16 opt, the same threading discipline as
    ``row_sum_max``)."""
    if row_sum_max is None:
        _, _, row_sum_max = _sparse_feat_stats(triples, id_col)
    if max_w_units is None:
        row = wdf.agg(F.max(F.abs(F.col("__w"))).alias("m")).first()
        maxw = int(row["m"]) if row is not None and row["m"] is not None else 0
    else:
        maxw = int(max_w_units)
    _guard_int64(maxw * row_sum_max, "linear_classifier_scores_sparse_frame dot")
    grp = [id_col] + ([label_col] if label_col else [])
    z = _sparse_scores_units_frame(triples, wdf, grp, broadcast=False)
    return z.select(
        *grp,
        "score_units",
        F.round(_surrogate_sigmoid(F.col("score_units")), 6).alias("prob"),
        (F.col("score_units") >= 0).alias("pred"),
    )


def classifier_auc(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "score_units",
) -> DataFrame:
    """EXACT ROC AUC of a scored frame — the Mann-Whitney rank-sum
    form with average-rank tie handling, the standard quality gate for
    a trained filter before it touches a corpus.

    Scale shape (same discipline as ``dq.equi_depth_histogram``):
    scores collapse to a DISTINCT-value count table first (one
    map-side-combined agg carrying ``(score, n, n_pos)``), and the
    end ranks come from ``rank.exact_cumulative_counts`` — the
    range-partitioned two-pass prefix sum, so NO stage ever runs on a
    single partition even when the score domain is huge (the naive
    global-order window would plan ``Exchange SinglePartition`` over
    |distinct scores| rows). Ranks are doubled so tie-averages stay
    integers: a tie group spanning ranks [lo, hi] contributes
    ``n_pos·(lo+hi)`` with ``lo+hi = 2·hi_rank − n + 1``, every term
    exact in DECIMAL(38,0) (bounded by 2n² — a loud decimal overflow,
    never a silent wrap). The only float op is the final division,
    identically rounded on any engine.

    Rows with a NULL score OR a NULL label are excluded up front — a
    NULL label is unjudgeable, and counting it as an implicit
    negative (what the pre-fix where-clause did) would silently skew
    the reported AUC.

    Eager/frozen-snapshot semantics: the rank primitive runs jobs at
    CALL time (localCheckpoint + a subtotal collect), so the returned
    frame is a POINT-IN-TIME gauge of ``scored`` as of this call —
    it does not re-read the input if the underlying table changes
    later, and the checkpointed blocks are not recoverable across
    executor loss (re-call to re-gauge).

    Returns ONE row ``(n_pos, n_neg, auc)``; ``auc`` is NULL when
    either class is empty (undefined, not 0.5-by-fiat)."""
    from data_ingestion_framework_spark.operators.rank import (
        exact_cumulative_counts,
    )

    per = (
        scored.where(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.col(label_col).cast("int")).alias("__p"),
        )
    )
    rk, _ = exact_cumulative_counts(per, "__s", "__c", "__hi")
    agg = rk.agg(
        F.sum(
            F.col("__p").cast("decimal(19,0)")
            * (2 * F.col("__hi") - F.col("__c") + 1).cast("decimal(19,0)")
        ).alias("__rp2"),
        F.sum("__p").cast("bigint").alias("__np"),
        F.sum("__c").cast("bigint").alias("__n"),
    )
    np_d = F.col("__np").cast("decimal(19,0)")
    nn_d = (F.col("__n") - F.col("__np")).cast("decimal(19,0)")
    u2 = F.col("__rp2") - np_d * (np_d + 1)
    den = F.lit(2).cast("decimal(19,0)") * np_d * nn_d
    return agg.select(
        F.col("__np").alias("n_pos"),
        (F.col("__n") - F.col("__np")).alias("n_neg"),
        F.when(
            (F.col("__np") > 0) & (F.col("__n") > F.col("__np")),
            F.round(u2.cast("double") / den.cast("double"), 6),
        ).alias("auc"),
    )


def calibration_report(
    scored: DataFrame,
    label_col: str = "label",
    prob_col: str = "prob",
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram / expected-calibration-error gauge: how
    well the classifier's probabilities match empirical outcome rates
    — the trust check a trained gate should pass before its
    probabilities drive sampling weights or temperature mixing
    (the reliability-diagram / ECE methodology of Guo et al. 2017,
    "On Calibration of Modern Neural Networks").

    Equi-WIDTH probability bins: ``prob`` (already rounded to 6dp by
    the scorers) converts to exact integer micro-units ``pu =
    round(prob·1e6)`` — identical BIGINTs on any IEEE engine since the
    input doubles are identical — and bin membership is pure integer
    arithmetic ``min(bins−1, pu·bins div 1e6)``, so no float boundary
    can move a row across bins between engines. Per bin: row count,
    positive count, mean predicted probability and empirical positive
    rate (each one exact-integer division, rounded 6), and the
    calibration gap |mean_prob − pos_rate| (rounded 6). The weighted
    sum of ``n·gap/total`` is the ECE; the per-bin rows are returned
    rather than the single scalar because the diagram localizes WHERE
    the model lies (overconfident high bins vs noisy middle).

    Rows with a NULL probability or NULL label are excluded (same
    rule as :func:`classifier_auc` — an unjudgeable row must not
    count as an implicit negative). Scale shape: one
    map-side-combined groupBy over ≤ ``bins`` result rows — a pure
    aggregation scan, nothing driver-side.

    Returns ``(bin, n, n_pos, avg_prob, pos_rate, gap)``; empty bins
    are absent, as in a standard reliability diagram, and row ORDER is
    unspecified (hash aggregation) — ``orderBy("bin")`` before any
    positional consumption."""
    if not 1 <= bins <= UNIT_SCALE:
        # the exactness argument below needs bins ≤ 1e6: past it
        # pu·bins can leave the 2^53-exact double range and the
        # floor-over-division could disagree with the oracle's
        # integer // — refuse loudly instead of drifting silently
        # (1e6 one-row bins is also past any diagram's usefulness)
        raise ValueError(
            f"calibration_report: bins={bins} outside [1, {UNIT_SCALE}]"
        )
    pu = F.round(F.col(prob_col) * F.lit(float(UNIT_SCALE))).cast("bigint")
    # pu ≤ 1e6 and bins ≤ 1e6, so pu·bins ≤ 1e12 ≪ 2^53 (exact), and
    # the true quotient pu·bins/1e6 sits ≥ 1e-6 away from any integer
    # it doesn't exactly equal, while the correctly-rounded double is
    # within ~2.3e-10 ulp — so floor over the double IS the integer
    # division the oracle spells as //
    b = F.least(
        F.lit(int(bins) - 1).cast("bigint"),
        F.floor((pu * F.lit(int(bins))) / F.lit(UNIT_SCALE)).cast("bigint"),
    )
    agg = (
        scored.where(
            F.col(prob_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col(label_col).cast("int")).cast("bigint").alias("n_pos"),
            F.sum(pu).alias("__spu"),
        )
    )
    avg_prob = F.round(
        F.col("__spu").cast("double")
        / (F.col("n").cast("double") * F.lit(float(UNIT_SCALE))),
        6,
    )
    pos_rate = F.round(
        F.col("n_pos").cast("double") / F.col("n").cast("double"), 6
    )
    return agg.select(
        "bin",
        "n",
        "n_pos",
        avg_prob.alias("avg_prob"),
        pos_rate.alias("pos_rate"),
        F.round(F.abs(avg_prob - pos_rate), 6).alias("gap"),
    )


#: 2^53 — the largest double-exact integer magnitude; temperature
#: scaling converts BIGINT logit units to doubles, so the product
#: z_units·t_den must stay below it for the conversion to be exact.
_DOUBLE_EXACT_MAX = 1 << 53


def temperature_scaled_probs(
    scored: DataFrame,
    t_num: int,
    t_den: int,
    score_col: str = "score_units",
    out_col: str = "prob_t",
) -> DataFrame:
    """Append the temperature-scaled probability ``σ(z/T)`` for the
    rational temperature ``T = t_num/t_den`` — the APPLY arm of
    :func:`temperature_fit` (post-hoc calibration, Guo et al. 2017:
    one scalar divides the logit; T > 1 softens overconfident
    probabilities, T < 1 sharpens).

    Cross-engine exactness: ``z/T = (z_units·t_den) / (t_num·1e6)`` —
    the numerator is an exact BIGINT (guarded below 2^53 so the
    double conversion is exact), the denominator an exact small
    double, the division one IEEE op; the rational-sigmoid surrogate
    then uses only +, |·|, / — identical doubles on any engine, same
    contract as the scorers. ``T = 1`` reproduces the scorer's
    ``prob`` bit-for-bit."""
    if t_num < 1 or t_den < 1:
        raise ValueError(
            f"temperature_scaled_probs: T = {t_num}/{t_den} must be a "
            "positive rational"
        )
    row = scored.agg(F.max(F.abs(F.col(score_col)))).first()
    maxzu = int(row[0]) if row is not None and row[0] is not None else 0
    if maxzu * t_den >= _DOUBLE_EXACT_MAX:
        raise ValueError(
            f"temperature_scaled_probs: |score|·t_den = {maxzu}·{t_den} "
            "exceeds 2^53 — the double conversion would round and the "
            "cross-engine exactness contract breaks"
        )
    z = (F.col(score_col) * F.lit(int(t_den))).cast("double") / (
        F.lit(float(t_num)) * F.lit(float(UNIT_SCALE))
    )
    prob = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    # withColumn, not select("*", alias): when out_col already exists
    # (overwriting the scorer's ``prob`` in place is the natural call)
    # it REPLACES the column — the select form would append a silent
    # duplicate and make every later F.col(out_col) ambiguous
    return scored.withColumn(out_col, F.round(prob, 6))


def temperature_fit(
    scored: DataFrame,
    temps: list[tuple[int, int]] = (
        (1, 2),
        (2, 3),
        (1, 1),
        (3, 2),
        (2, 1),
        (3, 1),
    ),
    label_col: str = "label",
    score_col: str = "score_units",
    bins: int = 100,
) -> DataFrame:
    """Temperature-scaling calibration FIT (Guo et al. 2017's
    one-parameter post-hoc fix): grid-search over rational
    temperatures ``T = t_num/t_den``, choosing the one that minimizes
    the expected calibration error under
    :func:`calibration_report`'s exact integer binning — the remedial
    arm of the ECE gauge (gauge says the model lies; this picks the
    T that makes its probabilities honest).

    Exactness end to end, so a SQL oracle replays SELECTION, not just
    application: per T the scaled probability is
    ``σ((z_units·t_den)/(t_num·1e6))`` (exact BIGINT numerator
    guarded under 2^53, one IEEE division, the rational sigmoid — no
    transcendentals), rounded 6 and quantized to micro-units; bin
    membership is the gauge's pure-integer rule
    ``min(bins−1, pu·bins div 1e6)``; the per-bin gap quantizes to
    integer micro-units ``gap6 = round(|avg_prob − pos_rate|·1e6)``;
    and the SELECTION metric is the exact BIGINT ``Σ_bins n·gap6`` —
    every candidate shares the same row count N, so the argmin needs
    NO division at all (ECE = Σ n·gap6 / (N·1e6) is monotone in the
    sum). Ties break on ``(t_num, t_den)`` ascending — deterministic
    on any engine.

    ``temps`` must contain ``(1, 1)``: the reported ``ece_before`` is
    the unscaled model's ECE, and having T=1 in the grid guarantees
    ``ece_after <= ece_before`` by construction (the argmin can
    always keep the identity temperature).

    Scale shape: ONE aggregation job — the scored frame cross-joins
    the broadcast |T|-row grid (|T|× scan cost, one pass — cheaper
    than |T| separate passes), map-side combines to ≤ |T|·bins rows,
    reduces to |T| ECE rows, and the argmin is a bounded
    TakeOrdered over those |T| rows. Nothing driver-side but the
    guard stats. Rows with a NULL score or NULL label are excluded
    (the gauge's rule). An EMPTY input returns an empty frame.

    Returns ONE row ``(t_num, t_den, ece_before, ece_after)``."""
    if not 1 <= bins <= UNIT_SCALE:
        raise ValueError(
            f"temperature_fit: bins={bins} outside [1, {UNIT_SCALE}]"
        )
    tl = [(int(tn), int(td)) for tn, td in temps]
    if not tl or any(tn < 1 or td < 1 for tn, td in tl):
        raise ValueError(
            "temperature_fit: temps must be non-empty positive rationals"
        )
    if len(set(tl)) != len(tl):
        raise ValueError("temperature_fit: duplicate temperatures in grid")
    if (1, 1) not in tl:
        raise ValueError(
            "temperature_fit: the grid must contain (1, 1) — ece_before "
            "is the unscaled ECE and guarantees ece_after <= ece_before"
        )
    base = scored.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).cast("int").alias("__y"),
        F.col(score_col).cast("bigint").alias("__zu"),
    )
    row = base.agg(F.max(F.abs(F.col("__zu")))).first()
    maxzu = int(row[0]) if row is not None and row[0] is not None else 0
    max_td = max(td for _, td in tl)
    if maxzu * max_td >= _DOUBLE_EXACT_MAX:
        raise ValueError(
            f"temperature_fit: |score|·t_den = {maxzu}·{max_td} exceeds "
            "2^53 — the double conversion would round"
        )
    spark = scored.sparkSession
    tdf = F.broadcast(local_frame(spark, tl, "tn int, td int"))
    j = base.crossJoin(tdf)
    z = (F.col("__zu") * F.col("td")).cast("double") / (
        F.col("tn").cast("double") * F.lit(float(UNIT_SCALE))
    )
    prob = F.round(
        F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z))), 6
    )
    pu = F.round(prob * F.lit(float(UNIT_SCALE))).cast("bigint")
    b = F.least(
        F.lit(int(bins) - 1).cast("bigint"),
        F.floor((pu * F.lit(int(bins))) / F.lit(UNIT_SCALE)).cast("bigint"),
    )
    per = j.groupBy("tn", "td", b.alias("__bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("__y")).cast("bigint").alias("__np"),
        F.sum(pu).alias("__spu"),
    )
    avg_prob = F.round(
        F.col("__spu").cast("double")
        / (F.col("__n").cast("double") * F.lit(float(UNIT_SCALE))),
        6,
    )
    pos_rate = F.round(
        F.col("__np").cast("double") / F.col("__n").cast("double"), 6
    )
    gap6 = F.round(
        F.abs(avg_prob - pos_rate) * F.lit(float(UNIT_SCALE))
    ).cast("bigint")
    ece = per.groupBy("tn", "td").agg(
        F.sum(F.col("__n") * gap6).alias("__esum"),
        F.sum("__n").alias("__nn"),
    )
    chosen = ece.orderBy("__esum", "tn", "td").limit(1)
    before = ece.where((F.col("tn") == 1) & (F.col("td") == 1)).select(
        F.col("__esum").alias("__eb"), F.col("__nn").alias("__nb")
    )
    ece_expr = lambda s, n: F.round(  # noqa: E731
        F.col(s).cast("double")
        / (F.col(n).cast("double") * F.lit(float(UNIT_SCALE))),
        6,
    )
    return chosen.crossJoin(before).select(
        F.col("tn").alias("t_num"),
        F.col("td").alias("t_den"),
        ece_expr("__eb", "__nb").alias("ece_before"),
        ece_expr("__esum", "__nn").alias("ece_after"),
    )


def quality_lr_pipeline(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    n_features: int = 16,
    iters: int = 2,
    lr: float = 0.5,
    id_col: str = "doc_id",
    sparse: bool = False,
) -> DataFrame:
    """Train-and-score composite: hashed features → GD → scores.
    Returns ``(id, label, score_units, prob, pred)``. ``sparse=True``
    switches to the long-format triple layout — REQUIRED past the
    dense builder's D=4096 cap, identical weights below it."""
    if sparse:
        if not 1 <= n_features <= SPARSE_FEATURES_MAX:
            # refuse BEFORE the feature build materializes: the
            # driver-list trainer below would raise anyway, but only
            # after the checkpoint paid for the whole wide build
            # (n_features=0 would otherwise fall through to a % 0
            # crash inside hashed_token_features_sparse)
            raise ValueError(
                f"quality_lr_pipeline: sparse n_features={n_features} "
                f"outside [1, {SPARSE_FEATURES_MAX}] — use "
                "gd_train_sparse_distributed for wider models"
            )
        # materialize the triple build ONCE: the trainer scans it every
        # GD step and the scorer once more — without this checkpoint the
        # scorer would re-run the whole tokenize→hash→explode→groupBy
        # lineage from scratch (one full extra corpus shuffle)
        tr = hashed_token_features_sparse(
            df, text_col=text_col, n_features=n_features, id_col=id_col,
            label=label,
        ).localCheckpoint(eager=False)
        w, row_sum_max = _gd_train_sparse_with_stats(
            tr, n_features, iters, lr, id_col, "label",
            pre_materialized=True,
        )
        return linear_classifier_scores_sparse(
            tr, w, id_col=id_col, row_sum_max=row_sum_max
        ).select(id_col, "label", "score_units", "prob", "pred")
    feats = hashed_token_features(
        df, text_col=text_col, n_features=n_features, id_col=id_col, label=label
    )
    # score the trainer's CHECKPOINTED frame — the tokenize→hash→fold
    # lineage ran once for training; re-deriving it for scoring would
    # pay the fold over the whole corpus a second time (r15 opt)
    w, row_sum_max, feats_ck = _gd_train_dense_with_stats(
        feats, iters, lr, "features", "label"
    )
    return linear_classifier_scores(feats_ck, w, row_sum_max=row_sum_max).select(
        id_col, "label", "score_units", "prob", "pred"
    )


def quality_lr_gate(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    n_features: int = 16,
    iters: int = 2,
    lr: float = 0.5,
    id_col: str = "doc_id",
    min_score_units: int = 0,
    keep_fraction: tuple[int, int] | None = None,
    slice_col: str | None = None,
    trainer: str = "dense",
) -> DataFrame:
    """Train-and-FILTER: the CCNet-style deployment of the quality
    classifier inside a corpus pipeline. Trains the dense model on
    ``df`` itself (``label`` is a Column expression — a cheap proxy
    signal such as a length or source rule) and returns the rows whose
    trained logit reaches the cut, with ALL original columns intact.

    Two threshold modes:

    - ``min_score_units`` (default 0 = predicted positive): a FIXED
      logit cut in integer units.
    - ``keep_fraction=(num, den)``: a CALIBRATED cut — the threshold
      is SELECTED from the trained scores themselves so that the gate
      keeps the top ``ceil(num·n/den)`` scorers (plus any ties of the
      boundary score: the kept count is the SMALLEST count ≥ the
      target reachable with a value threshold). This is how CCNet
      actually deploys its filter — the cutoff is a quantile of the
      scored corpus, not a hand-picked constant. All-integer
      nearest-rank math (``keep_rank = (num·n + den − 1) div den``;
      the cutoff is the smallest score whose ascending cumulative
      count reaches ``n − keep_rank + 1``), so a SQL oracle replays
      threshold SELECTION bit-for-bit — no float quantile can move
      the boundary. Ranks come from ``rank.exact_cumulative_counts``
      (the range-partitioned two-pass prefix sum — no
      single-partition stage even when the score domain is huge).
      With ``slice_col`` the cutoff is computed PER SLICE VALUE
      (CCNet picks per-language/source cutoffs): slice-partitioned
      cumulative windows (``partitionBy(slice)`` — partition-local
      work, never a global funnel), then a broadcast join of the
      |slices|-row cutoff frame. The two modes are mutually
      exclusive.

    ``trainer`` picks the model tier — the SAME selection rule and cut
    semantics at every width:

    - ``"dense"`` (default, D ≤ 4096): the filter is a PURE EXPRESSION
      — the feature fold and the integer dot evaluate inside the
      corpus scan (whole-stage codegen, zero joins), weights as plan
      constants.
    - ``"sparse"`` (D ≤ ``SPARSE_FEATURES_MAX``): long-format triple
      features, driver-list weights broadcast into the scoring join.
    - ``"distributed"`` (any width): ``gd_train_sparse_distributed``
      — the model itself stays on the executors as a (bucket, w)
      frame; fastText-width CCNet deployment at the engine's widest
      tier. Bit-identical weights to the sparse tier below its cap
      (parity-pinned), so the tiers differ only in WHERE the weights
      live, never in which rows survive.

    At the sparse/distributed tiers the gate scores through the
    triple build (checkpointed once) and keeps survivors with an
    id-keyed LEFT SEMI join — the necessary price at widths where the
    model cannot travel as plan constants.

    Scale shape: ``df`` is localCheckpointed ONCE (it is typically the
    expensive upstream pipeline plan — training scans it ``iters``
    times and the gate once more; without the checkpoint every pass
    would replay the whole upstream plan). The dense gate itself is a
    pure expression filter — zero joins, zero shuffles: the trained
    weights are driver-side constants, the classic
    broadcast-the-model deployment; a global calibrated cut adds one
    score-domain agg job and lands as one more plan constant, a
    per-slice cut as a broadcast k-row join. Same exactness contract
    as the trainer (BIGINT dot, overflow guard before the scan).

    An EMPTY input trains nothing and gates nothing — it returns the
    (empty) frame unchanged rather than raising: the upstream pipeline
    may legitimately filter every row away, and the gate-less pipeline
    (and the DuckDB oracle, whose GD unroll over an empty subquery
    yields an empty join) both return empty there.

    Precondition: ``id_col`` values must be UNIQUE. The dense tier is
    a per-row expression and tolerates duplicates, but the sparse /
    distributed tiers build features by ``groupBy(id)`` (duplicate ids
    would merge into one feature row) and deploy by an id-keyed
    left-semi join (every copy of an id survives if any does) — the
    tier==filter parity contract only holds over unique ids."""
    if keep_fraction is not None:
        num, den = int(keep_fraction[0]), int(keep_fraction[1])
        if not 0 < num <= den:
            raise ValueError(
                f"quality_lr_gate: keep_fraction {num}/{den} outside (0, 1]"
            )
        if min_score_units != 0:
            raise ValueError(
                "quality_lr_gate: min_score_units and keep_fraction are "
                "mutually exclusive — a calibrated cut IS the threshold"
            )
    elif slice_col is not None:
        raise ValueError(
            "quality_lr_gate: slice_col requires keep_fraction (a fixed "
            "min_score_units cut has no per-slice calibration to do)"
        )
    if trainer not in ("dense", "sparse", "distributed"):
        raise ValueError(
            f"quality_lr_gate: unknown trainer {trainer!r} — one of "
            "'dense', 'sparse', 'distributed'"
        )
    # lazy checkpoint + no separate emptiness probe (r16 opt, guide
    # §5): the trainer's fused stats agg is the first full-scan action
    # — it materializes the (typically expensive) upstream plan in the
    # same job AND reports emptiness, where the previous shape paid an
    # eager materialization job plus a first() probe before training
    df = df.localCheckpoint(eager=False)
    if trainer != "dense":
        return _gate_wide(
            df, label, text_col, n_features, iters, lr, id_col,
            min_score_units, keep_fraction, slice_col, trainer,
        )
    trained = _train_dense_scored_expr(
        df, label, text_col, n_features, iters, lr, id_col,
        "quality_lr_gate dot", empty_ok=True,
    )
    if trained is None:
        # empty input: trains nothing, gates nothing (the documented
        # contract — same frame back)
        return df
    w, z = trained
    if keep_fraction is None:
        return df.where(z >= F.lit(int(min_score_units)))
    num, den = int(keep_fraction[0]), int(keep_fraction[1])
    if slice_col is None:
        return _calibrated_cut_global(df, z, num, den)
    return _calibrated_cut_by_slice(df, z, num, den, slice_col)


def _train_dense_scored_expr(
    df: DataFrame,
    label: Column,
    text_col: str,
    n_features: int,
    iters: int,
    lr: float,
    id_col: str,
    guard_what: str,
    empty_ok: bool = False,
) -> tuple[list[int], Column] | None:
    """The dense train-then-guard block shared by
    :func:`quality_lr_gate` and :func:`fit_quality_gate` — ONE
    definition keeps their pytest-pinned frozen-vs-batch parity by
    construction. Returns the trained integer-unit weights and the
    logit as a pure expression over ``df``'s ``text_col``. ``df``
    must already be checkpointed and non-empty."""
    feats = hashed_token_features(
        df, text_col=text_col, n_features=n_features, id_col=id_col,
        label=label,
    )
    trained = _gd_train_dense_with_stats(
        feats, iters, lr, "features", "label", empty_ok=empty_ok
    )
    if trained is None:
        return None
    w, row_sum_max, _ = trained
    maxw = max((abs(x) for x in w), default=0)
    _guard_int64(maxw * row_sum_max, guard_what)
    return w, _z_units(_dense_features_expr(text_col, n_features), w)


class FrozenQualityGate:
    """A trained dense quality gate FROZEN for later application —
    the train-offline / apply-anywhere deployment (e.g. inside a
    streaming ``foreachBatch``, where re-training per micro-batch
    would be both wrong and unaffordable). Carries the trained
    integer-unit weights and the resolved cut; :meth:`filter_expr`
    compiles them into a pure Column expression (the feature fold +
    BIGINT dot + the cut, all plan constants — exactly the dense
    tier of :func:`quality_lr_gate`), so applying the gate adds zero
    joins and zero shuffles to any batch or micro-batch scan."""

    def __init__(
        self,
        w_units: list[int],
        min_score_units: int,
        n_features: int,
        text_col: str = "text",
    ) -> None:
        self.w_units = [int(x) for x in w_units]
        self.min_score_units = int(min_score_units)
        self.n_features = int(n_features)
        self.text_col = text_col

    def score_expr(self) -> Column:
        """The trained logit in integer units, as a pure expression.

        The fit-time ``_guard_int64`` only certified the TRAINING
        corpus's longest row; the gate's whole purpose is applying to
        NEW data (a streaming micro-batch can carry a vastly longer
        document), so the expression re-checks per row: a row whose
        token count exceeds the certified bound ``int64_max //
        max|w|`` raises loudly instead of letting the BIGINT dot wrap
        silently on a non-ANSI session and flip keep/drop. One extra
        ``size()`` over the already-built token array — noise next
        to the O(D·tokens) fold itself."""
        # same 2^62 one-bit-headroom bound as _guard_int64, resolved
        # per row instead of per corpus
        maxw = max((abs(x) for x in self.w_units), default=0)
        safe_rows = (2**62) // max(maxw, 1)
        n_row = F.size(_tokens(self.text_col)).cast("bigint") + F.lit(1)
        z = _z_units(
            _dense_features_expr(self.text_col, self.n_features),
            self.w_units,
        )
        return F.when(
            n_row > F.lit(safe_rows),
            F.raise_error(
                F.lit(
                    "FrozenQualityGate: a row's token count exceeds the "
                    f"int64-certified bound ({safe_rows}) for the frozen "
                    "weights — the dot product would overflow; re-fit "
                    "with smaller weights or pre-truncate the text"
                )
            ).cast("bigint"),
        ).otherwise(z)

    def filter_expr(self) -> Column:
        """``trained_logit >= frozen_cut`` as one Column expression."""
        return self.score_expr() >= F.lit(self.min_score_units)

    def apply(self, df: DataFrame) -> DataFrame:
        """Keep the rows passing the frozen gate (all columns intact).
        Works on batch AND streaming DataFrames — the expression has
        no joins, aggregations or state."""
        return df.where(self.filter_expr())


def fit_quality_gate(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    n_features: int = 16,
    iters: int = 2,
    lr: float = 0.5,
    id_col: str = "doc_id",
    min_score_units: int = 0,
    keep_fraction: tuple[int, int] | None = None,
) -> FrozenQualityGate:
    """Train the dense quality model on ``df`` and FREEZE it as a
    :class:`FrozenQualityGate` — the offline half of the
    train-offline / apply-in-stream deployment. With
    ``keep_fraction=(num, den)`` the calibrated cutoff is resolved
    NOW, on the training corpus (the same integer nearest-rank
    selection as :func:`quality_lr_gate`), and frozen as a constant:
    a stream then applies a STABLE cut chosen from the offline
    corpus, rather than re-quantiling every micro-batch (whose tiny
    score sample would make the boundary wander batch to batch).

    Parity contract (pinned by pytest):
    ``fit_quality_gate(df, ...).apply(df)`` keeps exactly the rows
    ``quality_lr_gate(df, ...)`` keeps, for both the fixed-cut and
    global calibrated modes. Per-slice cuts are deliberately not
    frozen here — a |slices|-row cut table belongs in a broadcast
    join, not in a plan-constant expression; use
    :func:`quality_lr_gate` with ``slice_col`` for batch per-slice
    gating. Raises on an EMPTY training frame (nothing to train —
    unlike the batch gate, there is no frame to pass through)."""
    if keep_fraction is not None:
        num, den = int(keep_fraction[0]), int(keep_fraction[1])
        if not 0 < num <= den:
            raise ValueError(
                f"fit_quality_gate: keep_fraction {num}/{den} outside (0, 1]"
            )
        if min_score_units != 0:
            raise ValueError(
                "fit_quality_gate: min_score_units and keep_fraction are "
                "mutually exclusive"
            )
    df = df.localCheckpoint(eager=False)
    trained = _train_dense_scored_expr(
        df, label, text_col, n_features, iters, lr, id_col,
        "fit_quality_gate dot", empty_ok=True,
    )
    if trained is None:
        raise ValueError("fit_quality_gate: empty training frame")
    w, z = trained
    cut = int(min_score_units)
    if keep_fraction is not None:
        cut = _calibrated_cut_value(
            df, z, int(keep_fraction[0]), int(keep_fraction[1])
        )
    return FrozenQualityGate(w, cut, n_features, text_col)


def _gate_wide(
    df: DataFrame,
    label: Column,
    text_col: str,
    n_features: int,
    iters: int,
    lr: float,
    id_col: str,
    min_score_units: int,
    keep_fraction: tuple[int, int] | None,
    slice_col: str | None,
    trainer: str,
) -> DataFrame:
    """The sparse/distributed gate tail: triple features built ONCE
    (checkpointed — the trainer scans them per GD step, the scorer
    once more), per-doc logits via the weight join, the fixed or
    calibrated cut on the scored frame, then an id-keyed LEFT SEMI
    join back onto ``df`` (model too wide for plan constants — the
    survivors' ids are the only thing that crosses back)."""
    if slice_col is not None and slice_col in (
        id_col,
        "score_units",
        "prob",
        "pred",
    ):
        # the per-slice cut joins scored (id, score_units, prob, pred)
        # with df.select(id, slice) — a slice column named like the
        # scorer's outputs (or the id itself) would hit an ambiguous-
        # column error deep inside the join; refuse with the real reason
        raise ValueError(
            f"quality_lr_gate: slice_col {slice_col!r} collides with "
            f"the id column or the scorer's output columns "
            "('score_units', 'prob', 'pred') at the sparse/distributed "
            "tiers — rename the slice column first"
        )
    if trainer == "sparse" and not 1 <= n_features <= SPARSE_FEATURES_MAX:
        # refuse BEFORE the feature build materializes (the same
        # discipline as quality_lr_pipeline's pre-check: the list
        # trainer would raise anyway, but only after the checkpoint
        # paid for the whole corpus-wide build)
        raise ValueError(
            f"quality_lr_gate: sparse n_features={n_features} outside "
            f"[1, {SPARSE_FEATURES_MAX}] — use trainer='distributed' "
            "for wider models"
        )
    tr = hashed_token_features_sparse(
        df, text_col=text_col, n_features=n_features, id_col=id_col,
        label=label,
    ).localCheckpoint(eager=False)
    # score through the library scorers (one definition of the
    # guard-and-dot block, not a hand-synced copy); the extra
    # prob/pred columns are two pure expressions, dropped by the
    # id-only selects below
    if trainer == "sparse":
        trained = _gd_train_sparse_with_stats(
            tr, n_features, iters, lr, id_col, "label",
            pre_materialized=True, empty_ok=True,
        )
        if trained is None:
            return df  # empty input: trains nothing, gates nothing
        w, row_sum_max = trained
        scored = linear_classifier_scores_sparse(
            tr, w, id_col=id_col, label_col=None, row_sum_max=row_sum_max
        )
    else:
        trained = _gd_train_sparse_distributed_with_stats(
            tr, iters, lr, id_col, "label", pre_materialized=True,
            empty_ok=True,
        )
        if trained is None:
            return df  # empty input: trains nothing, gates nothing
        wdf, row_sum_max, maxw = trained
        scored = linear_classifier_scores_sparse_frame(
            tr, wdf, id_col=id_col, label_col=None, row_sum_max=row_sum_max,
            max_w_units=maxw,
        )
    # materialize the scored frame once (r16 opt, lazy — the r15
    # verdict's re-derived-lineage check #8): the calibrated-cut path
    # consumes it two-to-three times (the rank primitive's jobs plus
    # the final filter), and each evaluation would replay the
    # weight-join + per-doc aggregation over the corpus; the first
    # cut job materializes it instead and every later consumer reads
    # the persisted narrow (id, score...) rows
    scored = scored.localCheckpoint(eager=False)
    z = F.col("score_units")
    if keep_fraction is None:
        kept = scored.where(z >= F.lit(int(min_score_units)))
    else:
        num, den = int(keep_fraction[0]), int(keep_fraction[1])
        if slice_col is None:
            kept = _calibrated_cut_global(scored, z, num, den)
        else:
            kept = _calibrated_cut_by_slice(
                scored.join(df.select(id_col, slice_col), id_col),
                z, num, den, slice_col,
            )
    return df.join(kept.select(id_col), id_col, "left_semi")


def _calibrated_cut_value(df: DataFrame, z: Column, num: int, den: int) -> int:
    """The exact keep-rate cutoff VALUE over ``df``'s score expression
    ``z``: the smallest score whose ascending cumulative count reaches
    ``n − keep_rank + 1`` where ``keep_rank = ceil(num·n/den)`` —
    all-integer nearest-rank selection over the distinct-score count
    table via the range-partitioned rank primitive. The cutoff collect
    is ONE row (control-plane). ``df`` must be non-empty."""
    from data_ingestion_framework_spark.operators.rank import (
        exact_cumulative_counts,
    )

    per = df.groupBy(z.alias("__z")).agg(F.count(F.lit(1)).alias("__c"))
    ranked, n = exact_cumulative_counts(per, "__z", "__c", "__hi")
    keep_rank = (num * n + den - 1) // den
    cut_rank = n - keep_rank + 1
    row = (
        ranked.where(F.col("__hi") >= F.lit(cut_rank))
        .agg(F.min("__z").alias("__cut"))
        .first()
    )
    return int(row["__cut"])


def _calibrated_cut_global(
    df: DataFrame, z: Column, num: int, den: int
) -> DataFrame:
    """Filter ``df`` to the rows whose score expression ``z`` reaches
    the exact keep-rate cutoff (:func:`_calibrated_cut_value`); the
    returned filter is a pure expression with the cutoff as a plan
    constant."""
    return df.where(z >= F.lit(_calibrated_cut_value(df, z, num, den)))


def _calibrated_cut_by_slice(
    df: DataFrame, z: Column, num: int, den: int, slice_col: str
) -> DataFrame:
    """Per-slice keep-rate cut: the same integer nearest-rank
    selection as the global form, computed independently inside every
    ``slice_col`` value (CCNet's per-language cutoffs). Cumulative
    ranks come from slice-PARTITIONED windows — partition-local work
    (the shuffle key is the slice, never a global funnel) — and the
    |slices|-row cutoff frame joins back broadcast. Rows whose slice
    is NULL form their own slice (null-safe join)."""
    from pyspark.sql.window import Window as W

    per = df.groupBy(
        F.col(slice_col).alias("__s"), z.alias("__z")
    ).agg(F.count(F.lit(1)).alias("__c"))
    wcum = (
        W.partitionBy("__s")
        .orderBy("__z")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = per.select(
        "__s",
        "__z",
        F.sum(F.col("__c").cast("bigint")).over(wcum).alias("__hi"),
        F.sum(F.col("__c").cast("bigint"))
        .over(W.partitionBy("__s"))
        .alias("__n"),
    )
    cuts = (
        ranked.where(
            F.col("__hi")
            >= F.expr(f"__n - (({num} * __n + {den - 1}) div {den}) + 1")
        )
        .groupBy("__s")
        .agg(F.min("__z").alias("__cut"))
    )
    return (
        df.join(
            F.broadcast(cuts), F.col(slice_col).eqNullSafe(F.col("__s"))
        )
        .where(z >= F.col("__cut"))
        .drop("__s", "__cut")
    )
