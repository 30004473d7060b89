"""AMTL causality-loop tests (SURVEY.md §5.2 items 2-3): golden numpy
gradient parity, loss decrease on separable data, B-matrix structure.
"""

from __future__ import annotations

import numpy as np
import pytest

from causality_between_elements_based_on_time_series_data_spark.ml.amtl import (
    AMTLConfig,
    AMTLTrainer,
)

TASKS = ["angina", "cerebral", "myocardial"]


@pytest.fixture(scope="module")
def synthetic_feats(spark):
    rng = np.random.default_rng(7)
    rows = []
    for ti, task in enumerate(TASKS):
        for i in range(80):
            x = rng.normal(size=2)
            # separable signal, slightly rotated per task
            y = 1.0 if x[0] + 0.3 * ti * x[1] > 0 else 0.0
            rows.append((i, task, [float(x[0]), float(x[1])], y))
    return spark.createDataFrame(rows, "entity_id long, task string, x array<double>, y double")


def _train_partials(trainer, feats):
    """Per-task (n, Σloss, Σgrad) of one pass over every row of
    ``feats`` as train rows, in the input's own partitioning."""
    from pyspark.sql import functions as F

    n, loss, grad = trainer._run_pass(
        feats.withColumn("__eval", F.lit(False)), train=True, evaluate=False
    )
    return {t: (n[0, i], loss[0, i], grad[0, i]) for i, t in enumerate(trainer.tasks)}


def test_loss_decreases_and_b_structure(spark, synthetic_feats):
    cfg = AMTLConfig(total_iter=25, lr=0.5, check_iter=5)
    trainer = AMTLTrainer(cfg).fit(synthetic_feats)
    assert cfg.history[0] > cfg.history[-1], cfg.history
    bdf = trainer.b_matrix_df(spark).toPandas()
    # T·(T−1) rows, diagonal structurally absent (model.py:92 semantics)
    assert len(bdf) == len(TASKS) * (len(TASKS) - 1)
    assert not (bdf.src_task == bdf.dst_task).any()


def test_distributed_gradient_matches_numpy(spark, synthetic_feats):
    """The mapInArrow partial-aggregation must equal a single-node
    numpy computation of the same CE loss/gradient (model.py:159)."""
    trainer = AMTLTrainer(AMTLConfig())
    trainer.tasks = TASKS
    rng = np.random.default_rng(3)
    trainer.W = rng.normal(0.0, 0.1, size=(len(TASKS), 3))

    dist = _train_partials(trainer, synthetic_feats)

    pdf = synthetic_feats.toPandas()
    for ti, task in enumerate(TASKS):
        g = pdf[pdf.task == task]
        X = np.vstack([np.asarray(v) for v in g.x])
        X = np.hstack([X, np.ones((len(X), 1))])
        y = g.y.to_numpy()
        w = trainer.W[ti]
        z = X @ w
        loss = (np.maximum(z, 0) - z * y + np.log1p(np.exp(-np.abs(z)))).sum()
        grad = X.T @ (1 / (1 + np.exp(-z)) - y)
        n, loss_d, grad_d = dist[task]
        assert n == len(X)
        np.testing.assert_allclose(loss_d, loss, rtol=1e-9)
        np.testing.assert_allclose(grad_d, grad, rtol=1e-9)


def _stable_ce(z, y):
    return np.maximum(z, 0) - z * y + np.log1p(np.exp(-np.abs(z)))


def _objective(W, B, data, mu, lam):
    """The full AMTL objective (model.py:166-184), recomputed from raw
    data — independent of the trainer's gradient code path."""
    n = np.array([len(y) for _, y in data])
    ce = np.array([_stable_ce(X @ W[i], y).mean() for i, (X, y) in enumerate(data)])
    b_l1 = np.abs(B).sum(axis=1)
    resid = W - B.T @ W
    return float((((1.0 + mu * b_l1) / np.sqrt(n)) * ce).sum() + lam * (resid**2).sum())


def test_finite_difference_full_objective():
    """Central finite differences over every W entry and every
    off-diagonal B entry must match the analytic gradients — this is
    the check that caught the transposed λ-coupling grad_B."""
    rng = np.random.default_rng(0)
    T, D = 3, 4
    mu, lam = 0.05, 0.07
    data = [
        (rng.normal(size=(20, D)), (rng.random(20) > 0.5).astype(float)) for _ in range(T)
    ]
    W = rng.normal(size=(T, D))
    B = rng.normal(size=(T, T)) * 0.3 + 0.2  # keep |B| away from the sign() kink
    np.fill_diagonal(B, 0.0)

    n = np.array([len(y) for _, y in data])
    loss_mean = np.array([_stable_ce(X @ W[i], y).mean() for i, (X, y) in enumerate(data)])
    grad_mean = np.vstack(
        [X.T @ (1.0 / (1.0 + np.exp(-(X @ W[i]))) - y) / len(y) for i, (X, y) in enumerate(data)]
    )
    grad_W, grad_B, total = AMTLTrainer._amtl_grads(W, B, n, loss_mean, grad_mean, mu, lam)
    np.testing.assert_allclose(total, _objective(W, B, data, mu, lam), rtol=1e-12)

    eps = 1e-6
    for i in range(T):
        for j in range(D):
            Wp, Wm = W.copy(), W.copy()
            Wp[i, j] += eps
            Wm[i, j] -= eps
            fd = (_objective(Wp, B, data, mu, lam) - _objective(Wm, B, data, mu, lam)) / (2 * eps)
            np.testing.assert_allclose(grad_W[i, j], fd, rtol=1e-5, atol=1e-8)
    for i in range(T):
        for j in range(T):
            if i == j:
                continue
            Bp, Bm = B.copy(), B.copy()
            Bp[i, j] += eps
            Bm[i, j] -= eps
            fd = (_objective(W, Bp, data, mu, lam) - _objective(W, Bm, data, mu, lam)) / (2 * eps)
            np.testing.assert_allclose(grad_B[i, j], fd, rtol=1e-5, atol=1e-8)


def test_partials_independent_of_partition_layout(spark, synthetic_feats):
    """Partial sums must not depend on how the rows are partitioned:
    the same rows at 1 and at 4 partitions give the same counts and,
    up to float reordering, the same loss and gradient sums."""
    trainer = AMTLTrainer(AMTLConfig())
    trainer.tasks = TASKS
    trainer.W = np.random.default_rng(3).normal(0.0, 0.1, size=(len(TASKS), 3))
    d1 = _train_partials(trainer, synthetic_feats.coalesce(1))
    d4 = _train_partials(trainer, synthetic_feats.repartition(4))
    for task in TASKS:
        assert d1[task][0] == d4[task][0]
        np.testing.assert_allclose(d1[task][1], d4[task][1], rtol=1e-12)
        np.testing.assert_allclose(d1[task][2], d4[task][2], rtol=1e-12)


def test_trainer_save_load_roundtrip(spark, synthetic_feats, tmp_path):
    """Reloaded weights must reproduce eval losses exactly (the
    checkpoint-sink row, model.py:216-217 analog)."""
    import json

    trainer = AMTLTrainer(AMTLConfig(total_iter=5, check_iter=2)).fit(
        synthetic_feats, eval_feats=synthetic_feats
    )
    path = str(tmp_path / "amtl_ckpt")
    trainer.save(spark, path)
    back = AMTLTrainer.load(spark, path)
    assert back.tasks == trainer.tasks
    np.testing.assert_array_equal(back.W, trainer.W)
    np.testing.assert_array_equal(back.B, trainer.B)
    assert back.eval_min == trainer.eval_min
    assert back.config.history == trainer.config.history
    assert back.config.eval_history == trainer.config.eval_history
    ev_orig = trainer._eval_losses(synthetic_feats)
    ev_back = back._eval_losses(synthetic_feats)
    assert ev_orig == ev_back

    # checkpoints written while AMTLConfig still had the grad_salt knob
    # carry it in their meta; load must drop it, not fail
    meta = json.loads(spark.read.parquet(f"{path}/meta").first()["meta"])
    assert "grad_salt" not in meta["config"]
    meta["config"]["grad_salt"] = 8
    spark.createDataFrame([(json.dumps(meta),)], "meta string").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    legacy = AMTLTrainer.load(spark, path)
    assert legacy.config == trainer.config
    np.testing.assert_array_equal(legacy.W, trainer.W)
    np.testing.assert_array_equal(legacy.B, trainer.B)


def test_holdout_eval_min_populated_and_reproducible(spark, synthetic_feats):
    """fit(train, eval) must populate per-task eval_min from the
    held-out split (model.py:248-262 min-tracking), deterministically."""
    from pyspark.sql import functions as F

    bucket = F.pmod(F.hash("entity_id"), F.lit(5))
    train, ev = synthetic_feats.where(bucket < 4), synthetic_feats.where(bucket >= 4)
    t1 = AMTLTrainer(AMTLConfig(total_iter=6, check_iter=2)).fit(train, eval_feats=ev)
    t2 = AMTLTrainer(AMTLConfig(total_iter=6, check_iter=2)).fit(train, eval_feats=ev)
    assert set(t1.eval_min) == set(TASKS)
    for task, (loss, at_iter) in t1.eval_min.items():
        assert np.isfinite(loss) and loss > 0
        assert 0 <= at_iter < 6
    assert t1.eval_min == t2.eval_min
    assert len(t1.config.eval_history) == len(t1.config.history) > 0
    edf = t1.eval_min_df(spark).toPandas()
    assert set(edf.task) == set(TASKS)


def test_fused_eval_matches_separate_eval_pass(spark, synthetic_feats):
    """The held-out eval rides on the NEXT training pass (and the last
    check on an eval-only pass); each eval_history entry must be the
    eval of W right after its check iteration's update — the same
    number a separate eval pass gives on a trainer stopped there."""
    from pyspark.sql import functions as F

    bucket = F.pmod(F.hash("entity_id"), F.lit(5))
    train, ev = synthetic_feats.where(bucket < 4), synthetic_feats.where(bucket >= 4)
    full = AMTLTrainer(AMTLConfig(total_iter=6, check_iter=2)).fit(train, eval_feats=ev)
    checks = [0, 2, 4, 5]
    assert len(full.config.eval_history) == len(checks)

    expect_min: dict[str, tuple[float, int]] = {}
    for k, it in enumerate(checks):
        # same train ∪ eval input, so W is bit-identical to the full
        # fit's W after update `it`
        stop = AMTLTrainer(AMTLConfig(total_iter=it + 1, check_iter=2)).fit(train, eval_feats=ev)
        separate = stop._eval_losses(ev)
        fused = full.config.eval_history[k]
        assert set(fused) == set(separate) == set(TASKS)
        for t in TASKS:
            # only the summation order differs (ev's own partitions)
            np.testing.assert_allclose(fused[t], separate[t], rtol=1e-12)
            if t not in expect_min or fused[t] < expect_min[t][0]:
                expect_min[t] = (fused[t], it)
    assert full.eval_min == expect_min


def test_b_matrix_parquet_roundtrip(spark, synthetic_feats, tmp_path):
    trainer = AMTLTrainer(AMTLConfig(total_iter=3)).fit(synthetic_feats)
    out = str(tmp_path / "b_matrix")
    trainer.write_b_matrix(spark, out, round_no=1)
    trainer.write_b_matrix(spark, out, round_no=2)
    back = spark.read.parquet(out)
    assert back.count() == 2 * len(TASKS) * (len(TASKS) - 1)
    assert set(back.columns) == {"src_task", "dst_task", "weight", "round"}


def test_minibatch_sgd_decreases_loss_and_is_deterministic(spark, synthetic_feats):
    """batch_size mirrors the reference's get_batch minibatch protocol
    (model.py:187-214): seeded sampling, loss still trends down, runs
    reproduce exactly."""
    cfg1 = AMTLConfig(total_iter=12, lr=0.5, check_iter=3, batch_size=40)
    cfg2 = AMTLConfig(total_iter=12, lr=0.5, check_iter=3, batch_size=40)
    t1 = AMTLTrainer(cfg1).fit(synthetic_feats)
    t2 = AMTLTrainer(cfg2).fit(synthetic_feats)
    assert cfg1.history[0] > cfg1.history[-1], cfg1.history
    np.testing.assert_array_equal(t1.W, t2.W)
    np.testing.assert_array_equal(t1.B, t2.B)
    assert cfg1.history == cfg2.history
    # the sample really is a subset: gradients differ from full-batch
    t_full = AMTLTrainer(AMTLConfig(total_iter=12, lr=0.5, check_iter=3)).fit(synthetic_feats)
    assert not np.array_equal(t1.W, t_full.W)


def test_amtl_eval_golden_values(spark):
    """Golden pin for the AMTL end-to-end eval numbers (the one surface
    that had property tests but no committed expected values): the
    seeded, deterministic training loop at sf0.001 must reproduce the
    per-task held-out AUC/accuracy and the min-tracked eval loss +
    argmin iteration recorded in tests/golden/amtl_eval_sf0.001.json.
    Values were generated once and verified identical across fresh
    sessions; rtol guards float-summation noise across machines."""
    import json
    import os

    import pytest

    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("sf0.001 fixture not present")
    golden = json.load(
        open(os.path.join(os.path.dirname(__file__), "golden", "amtl_eval_sf0.001.json"))
    )

    em = {r["task"]: r for r in REGISTRY["amtl_eval_metrics"].fn(spark, sf).collect()}
    assert set(em) == set(golden["eval_metrics"])
    for task, exp in golden["eval_metrics"].items():
        got = em[task]
        assert got["n"] == exp["n"], task
        assert got["auc"] == pytest.approx(exp["auc"], rel=1e-6, abs=1e-6), task
        assert got["accuracy_pct"] == pytest.approx(exp["accuracy_pct"], rel=1e-6), task

    mn = {r["task"]: r for r in REGISTRY["amtl_eval_min"].fn(spark, sf).collect()}
    assert set(mn) == set(golden["eval_min"])
    for task, exp in golden["eval_min"].items():
        got = mn[task]
        assert got["at_iter"] == exp["at_iter"], task
        assert got["min_eval_loss"] == pytest.approx(
            exp["min_eval_loss"], rel=1e-6
        ), task


def test_irls_agrees_with_mllib_lbfgs(spark, sf_dir):
    """Independent check for the mllib_logistic_head / IRLS pair
    (VERDICT r6 next-round #5): the portable unrolled-IRLS twin and
    MLlib's LBFGS optimize the SAME unregularized binomial likelihood
    on the SAME low-dim design, with different algorithms in different
    codebases — coefficient agreement validates both."""
    import pytest
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _irls_features,
        logistic_irls_portable,
    )

    irls = logistic_irls_portable(spark, sf_dir).first()

    ds = _irls_features(spark, sf_dir).select(
        F.col("y").cast("double").alias("label"),
        array_to_vector(F.array("f1", "f2")).alias("features"),
    )
    model = LogisticRegression(
        maxIter=200, regParam=0.0, tol=1e-12, fitIntercept=True
    ).fit(ds)

    assert irls.beta0 == pytest.approx(model.intercept, rel=0.02, abs=2e-3)
    assert irls.beta1 == pytest.approx(model.coefficients[0], rel=0.02, abs=2e-3)
    assert irls.beta2 == pytest.approx(model.coefficients[1], rel=0.02, abs=2e-3)
    # the reported training log-likelihood must also match the MLlib
    # fit's (objective histories use different scalings; recompute)
    summ = model.summary
    assert irls.train_accuracy == pytest.approx(summ.accuracy, abs=2e-3)


def test_amtl_driver_rows_bounded_per_step(spark, sf_dir, monkeypatch):
    """ARCHITECTURE claims the driver receives <= 2*T partial rows per
    partition per pass (one per (split, task)), with one partition per
    core; spy on DataFrame.collect during a 2-step fit and verify no
    collect exceeds 2*T*defaultParallelism (VERDICT r6 #4)."""
    # patch the CONCRETE class: in Spark 4 pyspark.sql.DataFrame is a
    # facade and instances are classic.dataframe.DataFrame
    from pyspark.sql.classic.dataframe import DataFrame

    from causality_between_elements_based_on_time_series_data_spark.ml.amtl import (
        AMTLConfig,
        AMTLTrainer,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_ml import (
        _split_feats,
    )

    sizes = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    cfg = AMTLConfig(total_iter=2, check_iter=1)
    train, _ = _split_feats(spark, sf_dir)
    trainer = AMTLTrainer(cfg).fit(train)
    T = len(trainer.tasks)
    bound = 2 * T * spark.sparkContext.defaultParallelism
    assert sizes, "expected collects during fit"
    assert max(sizes) <= bound, (sizes, bound)


def test_poisson_irls_agrees_with_mllib_glr(spark, sf_dir):
    """Second GLM family, same discipline as the logistic pair: the
    portable unrolled-IRLS Poisson fit must agree with MLlib
    GeneralizedLinearRegression (poisson/log) on the same design —
    independent codebases optimizing the same likelihood."""
    import pytest
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import GeneralizedLinearRegression
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        poisson_irls_portable,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    irls = poisson_irls_portable(spark, sf_dir).first()

    ev = load_table(spark, sf_dir, "events")
    feat = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.log(
                1 + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            ),
            6,
        ).alias("f1"),
        F.round(
            F.coalesce(
                F.avg(F.when(F.col("event_type") == "view", F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("f2"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("label"),
    )
    ds = feat.select("label", array_to_vector(F.array("f1", "f2")).alias("features"))
    model = GeneralizedLinearRegression(
        family="poisson", link="log", maxIter=100, regParam=0.0, tol=1e-10
    ).fit(ds)

    assert irls.beta0 == pytest.approx(model.intercept, rel=0.05, abs=5e-3)
    assert irls.beta1 == pytest.approx(model.coefficients[0], rel=0.05, abs=5e-3)
    assert irls.beta2 == pytest.approx(model.coefficients[1], rel=0.05, abs=5e-3)


def test_quantile_regression_tau_coverage(spark, sf_dir):
    """The algorithm-independent check of the pinball optimum: at the
    fitted 75th-percentile surface, ~tau of observations sit below it
    (the defining subgradient condition of quantile regression) —
    independent of the IRLS algorithm and of either engine."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        quantile_regression_pinball,
    )

    r = quantile_regression_pinball(spark, sf_dir).first()
    assert r.n > 100
    assert abs(r.frac_below - 0.75) < 0.05, r
    assert r.mean_pinball_loss >= 0
