"""Embedding-column utilities for training-data pipelines: L2 norms /
unit-normalization and symmetric int8 quantization — the prep steps
before ANN indexing or model ingestion.

All arithmetic is JVM higher-order functions over the array column in
DOUBLE (no UDF, no explode — one scan, zero shuffle). Cross-engine
float parity follows the dedup_embedding_cosine pattern: accumulate in
double with identical left-to-right array order on both sides, ROUND
outputs to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.dedup.dedup import norm
from disco_spark.registry import query
from disco_spark.session import load_tables


@query(
    "embedding_l2_stats",
    oracle="""
    SELECT vec_id,
           label,
           len(embedding) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
             AS l2_norm
    FROM embeddings
    """,
)
def embedding_l2_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector dimensionality + L2 norm: the sanity profile run before
    any ANN build (catches zero vectors, un-normalized mixes, truncated
    rows). One projection over the scan."""
    t = load_tables(spark, sf_dir)
    return t["embeddings"].select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm("embedding"), 6).alias("l2_norm"),
    )


def quantize_int8(vec: Column, scale: Column | None = None) -> tuple[Column, Column]:
    """Symmetric int8 quantization: scale = 127 / max|x| per vector,
    q_i = round(x_i * scale). Returns (quantized array<int>, scale).
    4x smaller than float32 on the wire — the shuffle-volume lever for
    embedding-heavy joins; dot products on int8 + per-vector scales
    reconstruct scores to ~1e-2, re-rank exact on the shortlist.

    PERF CONTRACT: pass ``scale`` as a pre-projected plain column
    (withColumn first, then F.col) when quantizing — the default
    inline scale expression sits INSIDE the transform lambda, where
    Catalyst does no CSE, so the absmax fold reruns per element
    (O(d²)/vector; see embedding_quantize_int8)."""
    if scale is None:
        absmax = F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        )
        scale = F.when(absmax == 0.0, F.lit(0.0)).otherwise(F.lit(127.0) / absmax)
    quant = F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("int"))
    return quant, scale


@query(
    "embedding_quantize_int8",
    # the codes travel as a CSV string, not array<int>: the driver's
    # pandas canonicalizer cannot sort unhashable cells (lists/bytes) —
    # the exact failure multimodal_frame_sample hit in round 2 with raw
    # binary. quantize_int8() itself still yields the true array column.
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS absmax
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(
             list_transform(v, x -> CAST(ROUND(x * CASE WHEN absmax = 0 THEN 0
                                                        ELSE 127.0 / absmax END)
                                         AS INTEGER)), ',') AS q_csv,
           ROUND(CASE WHEN absmax = 0 THEN 0 ELSE 127.0 / absmax END, 6) AS scale
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (array<int>
    + per-vector scale; serialized as CSV for the driver gate).

    The scale is PROJECTED before the quantizing transform (the
    shingle_df toks idiom): Catalyst does no common-subexpression
    elimination inside higher-order-function lambdas, so inlining
    quantize_int8's scale expression into the per-element lambda
    recomputes the full absmax array fold PER ELEMENT — O(d²) per
    vector, measured 9.0 -> 1.3 s on the 10x rehearsal corpus."""
    t = load_tables(spark, sf_dir)
    _, scale = quantize_int8(F.col("embedding"))
    q, _ = quantize_int8(F.col("embedding"), scale=F.col("_sc"))
    return (
        t["embeddings"]
        .withColumn("_sc", scale)
        .select(
            "vec_id",
            F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias(
                "q_csv"
            ),
            F.round(F.col("_sc"), 6).alias("scale"),
        )
    )


@query(
    "embedding_dim_variance",
    # per-dimension mean/variance across the corpus (population form,
    # exact decimal moment sums — the feature-scaling audit): a dead
    # dimension (var ~ 0) or an unscaled one jumps out immediately
    oracle="""
    WITH e AS (
      SELECT generate_subscripts(embedding, 1) AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings
    ),
    s AS (
      SELECT pos, COUNT(*) AS n,
             CAST(SUM(CAST(val AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(val * val AS DECIMAL(38,15))) AS DOUBLE)
               AS sxx
      FROM e GROUP BY pos
    )
    SELECT pos, n,
           ROUND(sx / n, 6) AS mean_v,
           ROUND(sxx / n - (sx / n) * (sx / n), 6) AS var_v
    FROM s
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean and population variance over the embedding
    corpus — the feature-scaling / dead-dimension audit run before
    quantization or indexing (a near-zero-variance dimension wastes a
    PQ subspace; wildly different scales break L2 geometry).

    posexplode + one grouped aggregate: the only shuffle carries
    (pos, partial-moment) pairs — dim cells total, independent of
    corpus size. Moments fold as exact DECIMAL(38,15); the variance
    formula runs on identical doubles both engines."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        F.posexplode("embedding").alias("pos0", "valf")
    ).select((F.col("pos0") + 1).alias("pos"), F.col("valf").cast("double").alias("val"))
    s = e.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(38,15)")).cast("double").alias("sx"),
        F.sum((F.col("val") * F.col("val")).cast("decimal(38,15)"))
        .cast("double")
        .alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    return s.select(
        "pos",
        "n",
        F.round(mean, 6).alias("mean_v"),
        F.round(F.col("sxx") / F.col("n") - mean * mean, 6).alias("var_v"),
    )


@query(
    "embedding_centroid_shift",
    # per-label centroid vs the corpus centroid, compared by cosine —
    # the cluster-coherence / label-drift audit. Centroid components
    # are exact-decimal sums divided by exact counts; the cosine folds
    # its 16 per-dimension products through DECIMAL again so the
    # statistic is shuffle-order-free.
    oracle="""
    WITH e AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings
    ),
    lc AS (
      SELECT label, pos,
             CAST(SUM(CAST(val AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS m,
             COUNT(*) AS n
      FROM e GROUP BY label, pos
    ),
    gc AS (
      SELECT pos,
             CAST(SUM(CAST(val AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS g
      FROM e GROUP BY pos
    ),
    terms AS (
      SELECT lc.label, lc.n,
             CAST(lc.m * gc.g AS DECIMAL(38,15)) AS t_dot,
             CAST(lc.m * lc.m AS DECIMAL(38,15)) AS t_mm,
             CAST(gc.g * gc.g AS DECIMAL(38,15)) AS t_gg
      FROM lc JOIN gc USING (pos)
    )
    SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(t_dot) AS DOUBLE)
                 / (sqrt(CAST(SUM(t_mm) AS DOUBLE))
                    * sqrt(CAST(SUM(t_gg) AS DOUBLE))), 6)
             AS cos_to_global
    FROM terms GROUP BY label
    """,
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid coherence: cosine between each label's mean
    vector and the corpus mean — the label-drift audit (a label whose
    centroid swings away from the corpus signals a skewed or
    mislabeled cluster; near-1.0 everywhere signals labels carry no
    geometric signal).

    Two grouped exploded aggregates (label x dim cells, then dim
    cells), a broadcast-size join on pos, and a per-label fold of the
    dim-wise products — every shuffle is bounded by label x dim, not
    by corpus size. Decimal folds at each stage keep the cosine
    engine-identical."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("pos", "valf")
    ).withColumn("val", F.col("valf").cast("double"))
    lc = e.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    gc = e.groupBy("pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("g")
    )
    terms = lc.join(F.broadcast(gc), "pos").select(
        "label",
        "n",
        (F.col("m") * F.col("g")).cast("decimal(38,15)").alias("t_dot"),
        (F.col("m") * F.col("m")).cast("decimal(38,15)").alias("t_mm"),
        (F.col("g") * F.col("g")).cast("decimal(38,15)").alias("t_gg"),
    )
    return terms.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.round(
            F.sum("t_dot").cast("double")
            / (
                F.sqrt(F.sum("t_mm").cast("double"))
                * F.sqrt(F.sum("t_gg").cast("double"))
            ),
            6,
        ).alias("cos_to_global"),
    )


# ---------------------------------------------------------------------------
# Label-level silhouette: per label, mean distance of its vectors to
# their own centroid (cohesion) vs the distance to the NEAREST other
# centroid (separation) — the embedding-space health read behind
# "are these labels geometrically real". sep_score > 0 means the
# nearest foreign centroid is farther than the label's own spread.
# ---------------------------------------------------------------------------
@query(
    "embedding_label_silhouette",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings
    ),
    lc AS (
      SELECT label, pos,
             CAST(SUM(CAST(val AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS m
      FROM e GROUP BY 1, 2
    ),
    dv AS (
      SELECT e.vec_id, e.label,
             ROUND(sqrt(CAST(SUM(CAST((e.val - lc.m) * (e.val - lc.m)
                      AS DECIMAL(38,15))) AS DOUBLE)), 9) AS d
      FROM e JOIN lc ON lc.label = e.label AND lc.pos = e.pos
      GROUP BY 1, 2
    ),
    intra AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(d AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
               AS intra_mean
      FROM dv GROUP BY 1
    ),
    cd AS (
      SELECT a.label AS la, b.label AS lb,
             ROUND(sqrt(CAST(SUM(CAST((a.m - b.m) * (a.m - b.m)
                      AS DECIMAL(38,15))) AS DOUBLE)), 9) AS dist
      FROM lc a JOIN lc b ON a.pos = b.pos AND a.label <> b.label
      GROUP BY 1, 2
    ),
    nearest AS (
      SELECT la AS label, lb AS nearest_label, dist FROM (
        SELECT la, lb, dist, ROW_NUMBER() OVER (
          PARTITION BY la ORDER BY dist, lb) AS r
        FROM cd
      ) WHERE r = 1
    )
    SELECT i.label, i.n_vecs, ROUND(i.intra_mean, 6) AS intra_mean,
           n.nearest_label, ROUND(n.dist, 6) AS nearest_inter,
           CASE WHEN GREATEST(n.dist, i.intra_mean) > 0
                THEN ROUND((n.dist - i.intra_mean)
                           / GREATEST(n.dist, i.intra_mean), 6)
           END AS sep_score
    FROM intra i JOIN nearest n ON n.label = i.label
    ORDER BY i.label
    """,
)
def embedding_label_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label cohesion vs separation: mean L2 to own centroid,
    distance to the nearest other centroid, and the silhouette-style
    score (b - a)/max(a, b) evaluated at label grain. Per-cell squared
    differences fold as DECIMAL terms (order-independent), per-vector
    distances round at 9 dp before the label fold — engine-identical
    end-to-end. On random synthetic labels expect sep_score < 0
    (centroids of random partitions nearly coincide while spread is
    large) — the honest "labels carry no geometry" reading.

    Plan: the centroid table is |labels| x dims cells; the
    per-vector distance join partitions on label/pos; centroid
    pairwise distances are a bounded self-join. Nothing wider than
    the exploded corpus shuffles once."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "valf")
    ).withColumn("val", F.col("valf").cast("double"))
    e = e.drop("valf")
    lc = e.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    lcj = lc.select(
        F.col("label").alias("_l"), F.col("pos").alias("_p"), "m"
    )
    dv = (
        e.join(
            lcj,
            (F.col("_l") == F.col("label")) & (F.col("_p") == F.col("pos")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        ((F.col("val") - F.col("m")) * (F.col("val") - F.col("m")))
                        .cast("decimal(38,15)")
                    ).cast("double")
                ),
                9,
            ).alias("d")
        )
    )
    intra = dv.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.sum(F.col("d").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("intra_mean"),
    )
    a = lc.select(F.col("label").alias("la"), "pos", F.col("m").alias("ma"))
    b = lc.select(F.col("label").alias("lb"), "pos", F.col("m").alias("mb"))
    cd = (
        a.join(b, "pos")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        ((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
                        .cast("decimal(38,15)")
                    ).cast("double")
                ),
                9,
            ).alias("dist")
        )
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("la").orderBy("dist", "lb")
    nearest = (
        cd.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            F.col("la").alias("_nl"),
            F.col("lb").alias("nearest_label"),
            "dist",
        )
    )
    sep = F.when(
        F.greatest(F.col("dist"), F.col("intra_mean")) > 0,
        F.round(
            (F.col("dist") - F.col("intra_mean"))
            / F.greatest(F.col("dist"), F.col("intra_mean")),
            6,
        ),
    )
    return (
        intra.join(nearest, F.col("_nl") == F.col("label"))
        .select(
            "label",
            "n_vecs",
            F.round(F.col("intra_mean"), 6).alias("intra_mean"),
            "nearest_label",
            F.round(F.col("dist"), 6).alias("nearest_inter"),
            sep.alias("sep_score"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Quantization-error audit — the estimator-quality report for
# quantize_int8 (the dedup_minhash_estimate_audit pattern applied to
# the embedding codec): per label, how much reconstruction error and
# cosine drift does symmetric int8 actually cost? The go/no-go read
# before shuffling codes instead of floats.
# ---------------------------------------------------------------------------
@query(
    "embedding_quantization_error",
    oracle="""
    WITH s AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[],
                                     x -> abs(x))) AS absmax
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, label,
             unnest(v) AS val,
             CASE WHEN absmax = 0 THEN 0 ELSE 127.0 / absmax END AS sc
      FROM s
    ),
    hat AS (
      SELECT vec_id, label, val,
             CASE WHEN sc = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(ROUND(val * sc) AS DOUBLE) / sc END AS xh
      FROM cells
    ),
    pv AS (
      SELECT vec_id, label,
             CAST(SUM(CAST((val - xh) * (val - xh) AS DECIMAL(38,15)))
                  AS DOUBLE) / COUNT(*) AS mse,
             CAST(SUM(CAST(val * xh AS DECIMAL(38,15))) AS DOUBLE)
               AS dxy,
             CAST(SUM(CAST(val * val AS DECIMAL(38,15))) AS DOUBLE)
               AS dxx,
             CAST(SUM(CAST(xh * xh AS DECIMAL(38,15))) AS DOUBLE)
               AS dyy
      FROM hat GROUP BY 1, 2
    ),
    scored AS (
      SELECT label, ROUND(mse, 12) AS mse,
             CASE WHEN dxx > 0 AND dyy > 0
                  THEN ROUND(dxy / (sqrt(dxx) * sqrt(dyy)), 9)
             END AS cosr
      FROM pv
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(mse AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 9) AS mse_mean,
           ROUND(CAST(SUM(CAST(cosr AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS cos_mean,
           ROUND(MIN(cosr), 6) AS cos_min
    FROM scored GROUP BY label ORDER BY label
    """,
)
def embedding_quantization_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reconstruction audit for the int8 codec: per label, mean MSE
    between original and dequantized vectors and the mean/min cosine
    between them — quantify exactly what the 4x wire saving costs
    (expect cosine > 0.999: int8 symmetric is nearly free for
    retrieval). Shares quantize_int8's scheme (same scale formula,
    same ROUND — both engines already hash-match on the codes);
    per-cell terms fold as DECIMALs, per-vector stats round before
    the label fold.

    Plan: the per-vector sums fold IN-ROW over the embedding array
    (the grouped cells were always the row's own exploded elements, so
    the explode + (vec_id, label) exchange bought nothing — decimal
    addition is exact, so the fold's left-to-right order reproduces
    SUM bit-for-bit); one grouped aggregate folds vectors to |labels|
    rows. Zero shuffles before the label fold at any scale."""
    from disco_spark.operators.classic import DiscoJob

    t = load_tables(spark, sf_dir)
    vec = F.col("embedding")
    absmax = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    # empty/NULL vectors produced no exploded cells and therefore no
    # per-vector row — replicate that doc set exactly. The in-row folds
    # inherit the SCAN's task count (guide §2.5 — the corr_matrix
    # lesson): fan the under-split embeddings scan across cores first
    # (measured-size no-op at scale); the four decimal folds are
    # row-local and the label fold is exact decimal addition, so the
    # result is partitioning-independent.
    s = DiscoJob._fan_out(t["embeddings"]).filter(F.size(vec) > 0).select(
        "vec_id",
        "label",
        vec.alias("v"),
        F.when(absmax == 0.0, F.lit(0.0))
        .otherwise(F.lit(127.0) / absmax)
        .alias("sc"),
    )

    def _val(x):
        return x.cast("double")

    def _xh(x):
        return F.when(F.col("sc") == 0.0, F.lit(0.0)).otherwise(
            F.round(_val(x) * F.col("sc")).cast("double") / F.col("sc")
        )

    _zero = F.lit(0).cast("decimal(37,15)")

    def _fold(term):
        # Accumulate at decimal(37,15): Add((37,15),(37,15)) lands in
        # (38,15) with NO precision-loss rescale — Spark's add rule gives
        # max(22,22)+15+1 = 38 ≤ 38 — so every step is EXACT scale-15
        # addition and the fold equals SUM's accumulation bit-for-bit.
        # (A (38,15) accumulator would promote each add to (38,14) under
        # allowPrecisionLoss, silently rounding the running sum at scale
        # 14 per step — the r14 shape; same final values on any corpus
        # whose per-step scale-14 rounding never crosses the mse/cosr
        # round(12)/round(9) boundaries, but not SUM in principle.) The
        # cast back to (37,15) is exact while |sum| < 10^22 — per-vector
        # sums are <= dim * max_cell², far below that for any real
        # embedding. NULL cells add as 0, exactly as SUM ignored them on
        # the exploded path (term is NULL whenever the cell is NULL).
        return F.aggregate(
            F.col("v"),
            _zero,
            lambda acc, x: (
                acc + F.coalesce(term(x).cast("decimal(37,15)"), _zero)
            ).cast("decimal(37,15)"),
        )

    pv = s.select(
        "vec_id",
        "label",
        (
            _fold(lambda x: (_val(x) - _xh(x)) * (_val(x) - _xh(x))).cast(
                "double"
            )
            / F.size("v")
        ).alias("mse"),
        _fold(lambda x: _val(x) * _xh(x)).cast("double").alias("dxy"),
        _fold(lambda x: _val(x) * _val(x)).cast("double").alias("dxx"),
        _fold(lambda x: _xh(x) * _xh(x)).cast("double").alias("dyy"),
    )
    cosr = F.when(
        (F.col("dxx") > 0) & (F.col("dyy") > 0),
        F.round(
            F.col("dxy") / (F.sqrt(F.col("dxx")) * F.sqrt(F.col("dyy"))), 9
        ),
    )
    scored = pv.select(
        "label", F.round(F.col("mse"), 12).alias("mse"), cosr.alias("cosr")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(
                F.sum(F.col("mse").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mse_mean"),
            F.round(
                F.sum(F.col("cosr").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cos_mean"),
            F.round(F.min("cosr"), 6).alias("cos_min"),
        )
        .orderBy("label")
    )
