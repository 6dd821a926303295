"""Recommender-core checks beyond the oracle: statistical quality (ALS) and
RDD/DataFrame execution-model parity."""

import math

from pyspark.ml.recommendation import ALS
from pyspark.sql import functions as F

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.recommender.als import (
    RATINGS_PER_BLOCK,
    als_blocks,
    fit_als,
)
from npc_recommender_netflix_spark.recommender.core import ratings_matrix
from tests.conftest import SF_SMALL


def test_cosine_bounds_and_symmetry_convention(spark):
    sims = registry.QUERIES["r_cosine_sim"](spark, SF_SMALL).collect()
    assert len(sims) > 0
    for r in sims:
        assert -1.000001 <= r["cosine"] <= 1.000001
        assert r["item_a"] < r["item_b"]  # canonical pair orientation


def test_rdd_mapreduce_parity_with_dataframe(spark):
    rdd_res = {
        r["item_id"]: (r["n"], r["total_qty"], r["mean_qty"])
        for r in registry.QUERIES["r_rdd_mapreduce"](spark, SF_SMALL).collect()
    }
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    df_res = {
        r["item_id"]: (r["n"], r["total_qty"], r["mean_qty"])
        for r in li.groupBy(F.col("l_partkey").alias("item_id"))
        .agg(
            F.count("*").alias("n"),
            (F.round(F.sum("l_quantity"), 2) + 0.0).alias("total_qty"),
            (F.round(F.avg("l_quantity"), 6) + 0.0).alias("mean_qty"),
        )
        .collect()
    }
    assert rdd_res == df_res


def test_als_beats_item_mean_baseline(spark):
    """ALS reconstruction must beat the item-mean predictor on the training
    matrix (implicit-feedback sanity: learned factors carry signal), and the
    data-sized block count must give a repeatable fit that predicts like
    MLlib's default 10-block fit of the same matrix."""

    def predictions(model, m):
        rows = model.transform(m).select("user", "item", "prediction").collect()
        return sorted((r["user"], r["item"], r["prediction"]) for r in rows)

    model, m = fit_als(spark, SF_SMALL, rank=8, max_iter=5)
    pred = model.transform(m)
    # implicit ALS predicts "preference" ~1 for observed pairs; compare
    # correlation direction instead of raw RMSE units: predictions for
    # observed cells should be well above the global prediction mean for
    # random (user, item) cells.
    obs_mean = pred.agg(F.avg("prediction")).first()[0]
    users = m.select("user").distinct().limit(50)
    items = m.select("item").distinct().limit(50)
    rand = users.crossJoin(items).join(m, ["user", "item"], "left_anti")
    rand_pred = model.transform(rand)
    rand_mean = rand_pred.agg(F.avg("prediction")).first()[0]
    assert obs_mean > rand_mean, (obs_mean, rand_mean)

    # at a fixed block count and seed the fit repeats exactly, so a value
    # reference with a tolerance is possible
    first = predictions(model, m)
    assert predictions(fit_als(spark, SF_SMALL, rank=8, max_iter=5)[0], m) == first
    # the block layout changes the seeded factor initialisation, not the
    # fit's quality: the mean prediction stays within 2% of 10 blocks
    ten = ALS(
        rank=8, maxIter=5, seed=42, implicitPrefs=True, userCol="user",
        itemCol="item", ratingCol="rating", coldStartStrategy="drop",
        numUserBlocks=10, numItemBlocks=10,
    ).fit(m)
    ten_preds = predictions(ten, m)
    assert len(ten_preds) == len(first)
    mean = sum(p for *_, p in first) / len(first)
    ten_mean = sum(p for *_, p in ten_preds) / len(ten_preds)
    assert abs(mean - ten_mean) <= 0.02 * abs(ten_mean), (mean, ten_mean)


def test_als_blocks_rule():
    """One block per RATINGS_PER_BLOCK ratings, at least 1, never more than
    the task slots, and never fewer as the matrix grows."""
    assert als_blocks(8, 0) == 1
    assert als_blocks(8, 5_000) == 1
    assert als_blocks(1, 10**9) == 1
    sizes = sorted([0, 1, RATINGS_PER_BLOCK - 1, RATINGS_PER_BLOCK,
                    RATINGS_PER_BLOCK + 1] + [10**k for k in range(2, 10)])
    for parallelism in (1, 2, 4, 8, 32, 400):
        assert als_blocks(parallelism, 10**9) == parallelism
        counts = [als_blocks(parallelism, n) for n in sizes]
        assert all(1 <= c <= parallelism for c in counts)
        assert counts == sorted(counts)


def test_predictions_exclude_seen_items(spark):
    preds = registry.QUERIES["r_predict"](spark, SF_SMALL)
    seen = ratings_matrix(spark, SF_SMALL, max_item=200).select(
        "user_id", "item_id"
    )
    overlap = preds.join(seen, ["user_id", "item_id"], "inner").count()
    assert overlap == 0


def test_rmse_is_finite_positive(spark):
    rmse = registry.QUERIES["r_rmse"](spark, SF_SMALL).first()["rmse"]
    assert rmse > 0 and math.isfinite(rmse)


def test_kmeans_partitions_all_vectors(spark):
    sizes = registry.QUERIES["r_kmeans"](spark, SF_SMALL).collect()
    assert len(sizes) == 10
    assert sum(r["n"] for r in sizes) == 500
    assert all(r["n"] > 0 for r in sizes)


def test_pca_preserves_rows_and_dims(spark):
    rows = registry.QUERIES["r_pca"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    # the projection norm is sign-invariant, positive, and bounded by the
    # input norm (embeddings are unit-ish vectors)
    import statistics

    norms = [r["pca_norm"] for r in rows]
    assert all(n > 0 for n in norms)
    assert statistics.pstdev(norms) > 1e-6


def test_pagerank_is_a_distribution_weighted_by_degree(spark):
    """Ranks sum to ~1 (stochastic fixpoint preserved through 3 iterations)
    and the max-degree node outranks the min-degree node."""
    from pyspark.sql import functions as F
    from npc_recommender_netflix_spark.session import load_table

    ranks = {
        r.node: r.rank
        for r in registry.QUERIES["r_pagerank"](spark, SF_SMALL).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-3
    li = load_table(spark, SF_SMALL, "lineitem")
    items = li.select("l_orderkey", (F.col("l_partkey") % 500).alias("item")).distinct()
    deg = (
        items.alias("a")
        .join(items.alias("b"), "l_orderkey")
        .where(F.col("a.item") != F.col("b.item"))
        .select(F.col("a.item").alias("src"), F.col("b.item").alias("dst"))
        .distinct()
        .groupBy("src")
        .count()
        .collect()
    )
    by_deg = sorted(deg, key=lambda r: r["count"])
    lo, hi = by_deg[0], by_deg[-1]
    assert ranks[hi.src] > ranks[lo.src]


def test_als_cv_leaderboard_shape_and_winner(spark):
    """r_als_cv is rows-only (seeded ALS, FP-order nondeterministic), so pin
    the structural contract: full 2x2 grid present, exactly one winner,
    and the winner's validation RMSE is the grid minimum."""
    from tests.conftest import SF_SMALL

    rows = registry.QUERIES["r_als_cv"](spark, SF_SMALL).collect()
    assert len(rows) == 4
    assert sorted((r["rank"], r["reg_param"]) for r in rows) == [
        (4, 0.05), (4, 0.1), (8, 0.05), (8, 0.1),
    ]
    assert all(r["valid_rmse"] > 0 for r in rows)
    winners = [r for r in rows if r["is_best"] == 1]
    assert len(winners) == 1
    assert winners[0]["valid_rmse"] == min(r["valid_rmse"] for r in rows)


def test_mllib_logreg_parity_with_irls(spark):
    """r_mllib_logreg (MLlib LBFGS, regParam=0, standardization off) and
    a_logistic_irls (4 hand-rolled Newton steps) fit the SAME grouped
    binomial likelihood on the SAME design matrix, so their coefficients
    and training log loss must agree — the tolerance covers the IRLS
    key's 4-iteration truncation (Newton is quadratically convergent;
    the gap sits well below 1e-3 on this fixture)."""
    lr = registry.QUERIES["r_mllib_logreg"](spark, SF_SMALL).collect()[0]
    irls = registry.QUERIES["a_logistic_irls"](spark, SF_SMALL).collect()[0]
    assert lr["n_obs"] == irls["n_obs"]
    for col in ("b_intercept", "b_price_bucket", "b_year_idx"):
        assert abs(lr[col] - irls[col]) < 1e-3, (col, lr[col], irls[col])
    assert abs(lr["avg_log_loss"] - irls["avg_log_loss"]) < 1e-4
