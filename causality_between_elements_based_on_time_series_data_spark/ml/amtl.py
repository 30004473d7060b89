"""AMTL causality training loop (SURVEY.md §3.3, milestone 3).

Re-expresses the reference's objective (``/root/reference/
model.py:166-184``) on Spark:

    total = Σ_t (1 + μ‖B[t,:]‖₁) · CE_t/√n_t  +  λ Σ_t ‖w_t − Σ_j B[j,t]·w_j‖²

- Per-task logistic heads w_t (model.py:150-151) and the task×task
  causality matrix B with fixed zero diagonal (model.py:86-101).
- The *data-dependent* loss/gradient is distributed.  ``fit`` tags the
  train rows and the held-out rows with a boolean ``__eval`` column,
  unions them, coalesces the union to ``defaultParallelism``
  partitions (one Python task per core) and caches it once.  Every
  iteration is then ONE ``mapInArrow`` pass over that cache with no
  shuffle: per Arrow batch the kernel flattens the fixed-width ``x``
  list array straight into an [n, D] matrix, computes the CE loss and
  gradient in numpy and accumulates (n, Σloss, Σgrad) per
  (split, task) with ``np.add.at``.  Each partition emits ≤ 2·T tiny
  rows and the driver adds them (associative sums, so numerics match a
  single-node pass up to float reordering).  Nothing is grouped, so no
  Python worker ever holds a whole task's rows and there is no hot key
  to salt.
- Held-out eval is fused into the training passes: the eval for check
  iteration ``it`` uses W after update ``it``, which is exactly the W
  training pass ``it+1`` reads, so that pass scores the eval rows too.
  Only the last check needs an eval-only pass.
- A pass is one Spark job, and a job's fixed cost dominates at this
  scale (a no-op ``mapInArrow`` job costs ~0.35 s on a 4-core VM).
  Running the whole loop as one barrier-mode job, with a
  ``BarrierTaskContext.allGather`` per iteration, is slower:
  spark-core 4.1.2's ``BarrierTaskContext.runBarrier`` polls with
  ``Thread.sleep(1000)``, so every ``allGather`` costs ≥ 1.0 s.
- The *parameter-space* AMTL terms touch only the [T×D] weight matrix
  and [T×T] B — pure numpy on the driver, exactly like the reference
  keeps them in the TF graph.
- The iteration loop is driver-side (model.py:232's range loop).

The learned B is the engine's causality output: B[i][j] = how much
task i's knowledge transfers to task j (model.py:296-310's dump).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class AMTLConfig:
    """Hyperparameters; defaults mirror run.py:24-37."""

    lr: float = 1e-1
    mu: float = 0.005
    lambda_: float = 0.005
    total_iter: int = 20
    check_iter: int = 5
    seed: int = 42
    # rows per task per iteration (the reference's get_batch minibatch
    # protocol, model.py:187-214); None = full-batch gradients
    batch_size: int | None = None
    history: list[float] = field(default_factory=list)
    eval_history: list[dict[str, float]] = field(default_factory=list)


class AMTLTrainer:
    """Asymmetric multi-task trainer over a featurized DataFrame
    ``(entity_id, task, x ARRAY<DOUBLE>, y DOUBLE)``."""

    def __init__(self, config: AMTLConfig | None = None):
        self.config = config or AMTLConfig()
        self.tasks: list[str] = []
        self.W: np.ndarray | None = None  # [T, D] per-task heads (incl. bias)
        self.B: np.ndarray | None = None  # [T, T], zero diagonal
        # per-task minimum eval loss and the iteration it occurred —
        # the reference's min-tracking (model.py:248-262)
        self.eval_min: dict[str, tuple[float, int]] = {}

    # ---- distributed piece -------------------------------------------------

    @staticmethod
    def _partials_fn(W: np.ndarray, tasks: list[str]):
        """mapInArrow kernel: per (split, task), the row count, the
        sigmoid-CE loss sum and the gradient sum for the broadcast
        weights (model.py:159 math).  Each partition yields at most
        2·T rows; rows of tasks the trainer does not know are skipped."""
        T, D = W.shape

        def fn(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            names = pa.array(tasks, pa.string())
            # per key eval·T + task: [n, Σloss, Σgrad_0 .. Σgrad_{D-1}]
            acc = np.zeros((2 * T, D + 2))
            for b in batches:
                ev = b.column("__eval").to_numpy(zero_copy_only=False)
                ti = pc.index_in(b.column("task"), value_set=names).fill_null(-1).to_numpy()
                keep = ti >= 0
                if not keep.any():
                    continue
                # fixed-width list<double> → [n, D-1] without a per-row copy
                X = b.column("x").flatten().to_numpy(zero_copy_only=False)
                X = X.reshape(b.num_rows, D - 1)[keep]
                X = np.hstack([X, np.ones((len(X), 1))])  # bias column
                y = b.column("y").to_numpy(zero_copy_only=False)[keep]
                ti = ti[keep]
                z = np.einsum("ij,ij->i", X, W[ti])
                # stable CE: max(z,0) - z*y + log1p(exp(-|z|))  (model.py:159)
                loss = np.maximum(z, 0) - z * y + np.log1p(np.exp(-np.abs(z)))
                r = 1.0 / (1.0 + np.exp(-z)) - y
                rows = np.column_stack([np.ones(len(z)), loss, X * r[:, None]])
                np.add.at(acc, ev[keep] * T + ti, rows)
            keys = np.flatnonzero(acc[:, 0])
            if len(keys):
                offsets = pa.array(np.arange(len(keys) + 1, dtype=np.int32) * D)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(keys >= T),
                        pa.array((keys % T).astype(np.int32)),
                        pa.array(acc[keys, 0]),
                        pa.array(acc[keys, 1]),
                        pa.ListArray.from_arrays(offsets, pa.array(acc[keys, 2:].ravel())),
                    ],
                    names=["is_eval", "task", "n", "loss_sum", "grad"],
                )

        return fn

    def _pass_df(self, data: DataFrame, train: bool, evaluate: bool) -> DataFrame:
        """One pass over the ``train`` and/or ``evaluate`` rows of
        ``(task, x, y, __eval)`` as a DataFrame — exposed separately so
        ``tests/test_plans.py`` can gate its physical plan (cached
        scan, MapInArrow, no Exchange) against the REAL trainer code
        path."""
        if not (train and evaluate):
            data = data.where(F.col("__eval") if evaluate else ~F.col("__eval"))
        fn = self._partials_fn(self.W.copy(), list(self.tasks))
        return data.select("task", "x", "y", "__eval").mapInArrow(
            fn, "is_eval boolean, task int, n double, loss_sum double, grad array<double>"
        )

    def _run_pass(
        self, data: DataFrame, train: bool, evaluate: bool
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Run one pass and add up its partial rows: ``(n, Σloss,
        Σgrad)`` shaped [2, T], [2, T], [2, T, D], split 0 = train,
        1 = eval."""
        T, D = self.W.shape
        n, loss, grad = np.zeros((2, T)), np.zeros((2, T)), np.zeros((2, T, D))
        for r in self._pass_df(data, train, evaluate).collect():
            s, t = int(r["is_eval"]), r["task"]
            n[s, t] += r["n"]
            loss[s, t] += r["loss_sum"]
            grad[s, t] += r["grad"]
        return n, loss, grad

    # ---- driver-side AMTL math ---------------------------------------------

    @staticmethod
    def _amtl_grads(
        W: np.ndarray,
        B: np.ndarray,
        n: np.ndarray,
        loss_mean: np.ndarray,
        grad_mean: np.ndarray,
        mu: float,
        lambda_: float,
    ) -> tuple[np.ndarray, np.ndarray, float]:
        """Analytic gradients + objective value for
        total = Σ_t (1 + μ‖B[t,:]‖₁)·CE_t/√n_t + λ Σ_t ‖w_t − Σ_j B[j,t]·w_j‖²
        (model.py:166-184).  Verified against central finite
        differences in tests/test_ml.py."""
        sqrt_n = np.sqrt(n)
        b_l1 = np.abs(B).sum(axis=1)  # ‖b_o_t‖₁ per source task (model.py:178)
        scale = (1.0 + mu * b_l1) / sqrt_n

        # residual r_t = w_t − Σ_j B[j,t]·w_j   (model.py:179-181)
        resid = W - B.T @ W

        grad_W = scale[:, None] * grad_mean + 2.0 * lambda_ * resid
        # dλ‖r_s‖²/dw_t also has −2λ B[t,s]·r_s cross terms:
        grad_W -= 2.0 * lambda_ * (B @ resid)

        grad_B = mu * np.sign(B) * (loss_mean / sqrt_n)[:, None]
        # d/dB[j,t] = −2λ w_j·r_t = −2λ (W @ resid.T)[j,t]
        grad_B += -2.0 * lambda_ * (W @ resid.T)
        np.fill_diagonal(grad_B, 0.0)  # diagonal fixed at 0 (model.py:92)

        total = float((scale * loss_mean).sum() + lambda_ * (resid**2).sum())
        return grad_W, grad_B, total

    def _minibatch(self, data: DataFrame, it: int) -> DataFrame:
        """Per-iteration random minibatch of ``batch_size`` train rows
        per task — the reference's ``get_batch`` sampling (model.py:
        187-214), made deterministic: seeded ``rand(seed + it)`` as
        the shuffle key, entity_id tie-break, ranking window per
        ``(__eval, task)``.  Every eval row is kept, so the fused eval
        still sees the whole held-out split.  One extra shuffle per
        iteration, traded against a gradient pass over
        ``batch_size·T`` rows instead of the full dataset — the
        standard SGD economics at 100 TB."""
        from pyspark.sql import Window

        w = Window.partitionBy("__eval", "task").orderBy("__r", "entity_id")
        return (
            data.withColumn("__r", F.rand(self.config.seed + it))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__eval") | (F.col("__rn") <= self.config.batch_size))
            .drop("__r", "__rn")
        )

    def _mean_losses(self, n: np.ndarray, loss_sum: np.ndarray) -> dict[str, float]:
        return {t: loss_sum[i] / n[i] for i, t in enumerate(self.tasks) if n[i]}

    def _eval_losses(self, eval_feats: DataFrame) -> dict[str, float]:
        """Mean eval CE per task with the current weights (the
        reference's keep_prob=1.0 eval pass, model.py:236-246)."""
        n, loss, _ = self._run_pass(
            eval_feats.withColumn("__eval", F.lit(True)), train=False, evaluate=True
        )
        return self._mean_losses(n[1], loss[1])

    def _record_eval(self, n: np.ndarray, loss_sum: np.ndarray, it: int) -> None:
        ev = self._mean_losses(n, loss_sum)
        self.config.eval_history.append(ev)
        for t, l in ev.items():  # min + argmin iter (model.py:248-262)
            if t not in self.eval_min or l < self.eval_min[t][0]:
                self.eval_min[t] = (l, it)

    def _fused_input(self, feats: DataFrame, eval_feats: DataFrame | None = None) -> DataFrame:
        """Train rows (``__eval`` false) and held-out rows (true) as one
        relation, coalesced to one partition per core and cached — the
        input every pass of ``fit`` reads."""
        cols = ["entity_id", "task", "x", "y"]
        data = feats.select(*cols, F.lit(False).alias("__eval"))
        if eval_feats is not None:
            data = data.unionByName(eval_feats.select(*cols, F.lit(True).alias("__eval")))
        return data.coalesce(feats.sparkSession.sparkContext.defaultParallelism).persist()

    def fit(self, feats: DataFrame, eval_feats: DataFrame | None = None) -> "AMTLTrainer":
        cfg = self.config
        data = self._fused_input(feats, eval_feats)
        # one probe yields both the task list and the feature width, and
        # materializes the cache the passes read; the T rows are sorted
        # here (Spark's string order is code-point order, as Python's),
        # which spares the probe a range-partitioned sort
        task_rows = sorted(
            data.where(~F.col("__eval")).groupBy("task").agg(F.max(F.size("x")).alias("d")).collect(),
            key=lambda r: r["task"],
        )
        self.tasks = [r["task"] for r in task_rows]
        T = len(self.tasks)
        D = int(task_rows[0]["d"]) + 1  # + bias
        rng = np.random.default_rng(cfg.seed)
        self.W = rng.normal(0.0, 0.01, size=(T, D))
        self.B = np.zeros((T, T))

        pending = None  # check iteration whose eval rides on the next pass
        for it in range(cfg.total_iter):
            batch = self._minibatch(data, it) if cfg.batch_size else data
            n, loss_sum, grad_sum = self._run_pass(batch, train=True, evaluate=pending is not None)
            if pending is not None:
                self._record_eval(n[1], loss_sum[1], pending)
                pending = None
            n_train = n[0]
            grad_W, grad_B, total = self._amtl_grads(
                self.W,
                self.B,
                n_train,
                loss_sum[0] / n_train,
                grad_sum[0] / n_train[:, None],
                cfg.mu,
                cfg.lambda_,
            )

            self.W -= cfg.lr * grad_W
            self.B -= cfg.lr * grad_B
            np.fill_diagonal(self.B, 0.0)
            if it % cfg.check_iter == 0 or it == cfg.total_iter - 1:
                cfg.history.append(total)
                if eval_feats is not None:
                    pending = it
        if pending is not None:  # the last check has no next training pass
            n, loss_sum, _ = self._run_pass(data, train=False, evaluate=True)
            self._record_eval(n[1], loss_sum[1], pending)

        data.unpersist()
        return self

    def eval_min_df(self, spark: SparkSession) -> DataFrame:
        """Per-task minimum eval loss + the iteration it occurred —
        the queryable form of the reference's console min-tracking."""
        rows = [(t, float(l), int(i)) for t, (l, i) in sorted(self.eval_min.items())]
        return spark.createDataFrame(rows, "task string, min_eval_loss double, at_iter int")

    def b_matrix_df(self, spark: SparkSession) -> DataFrame:
        """The causality output as a DataFrame — the engine's analog of
        the B_matrix text dump (model.py:296-310). Diagonal absent by
        construction (src ≠ dst)."""
        rows = [
            (self.tasks[i], self.tasks[j], float(self.B[i, j]))
            for i in range(len(self.tasks))
            for j in range(len(self.tasks))
            if i != j
        ]
        df = spark.createDataFrame(rows, schema="src_task string, dst_task string, weight double")
        return df.select("src_task", "dst_task", F.round("weight", 6).alias("weight"))

    def write_b_matrix(self, spark: SparkSession, path: str, round_no: int) -> None:
        """Per-round partitioned parquet append — the B-matrix sink."""
        self.b_matrix_df(spark).withColumn("round", F.lit(round_no)).write.mode("append").partitionBy(
            "round"
        ).parquet(path)

    # ---- persistence (the checkpoint sink, model.py:216-217 analog) --------

    def save(self, spark: SparkSession, path: str) -> None:
        """Full-precision model checkpoint: W and B as parquet plus a
        JSON meta row (tasks, config, eval-min tracking) — the engine's
        ``tf.train.Saver`` analog.  Unlike ``write_b_matrix`` (a
        rounded, diagonal-free *report*), this stores raw weights so
        ``load`` reproduces the trainer bit-for-bit."""
        import json

        w_rows = [(t, self.W[i].tolist()) for i, t in enumerate(self.tasks)]
        spark.createDataFrame(w_rows, "task string, w array<double>").write.mode(
            "overwrite"
        ).parquet(f"{path}/W")
        b_rows = [
            (self.tasks[i], self.tasks[j], float(self.B[i, j]))
            for i in range(len(self.tasks))
            for j in range(len(self.tasks))
        ]
        spark.createDataFrame(b_rows, "src_task string, dst_task string, weight double").write.mode(
            "overwrite"
        ).parquet(f"{path}/B")
        cfg = self.config
        meta = {
            "tasks": self.tasks,
            "eval_min": {t: [float(l), int(i)] for t, (l, i) in self.eval_min.items()},
            "history": [float(v) for v in cfg.history],
            "eval_history": [{t: float(l) for t, l in ev.items()} for ev in cfg.eval_history],
            "config": {
                "lr": cfg.lr,
                "mu": cfg.mu,
                "lambda_": cfg.lambda_,
                "total_iter": cfg.total_iter,
                "check_iter": cfg.check_iter,
                "seed": cfg.seed,
                "batch_size": cfg.batch_size,
            },
        }
        spark.createDataFrame([(json.dumps(meta),)], "meta string").write.mode(
            "overwrite"
        ).parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "AMTLTrainer":
        """Restore a trainer saved by :meth:`save`; the reloaded weights
        reproduce eval metrics exactly (round-trip pytest)."""
        import json

        meta = json.loads(spark.read.parquet(f"{path}/meta").first()["meta"])
        meta["config"].pop("grad_salt", None)  # removed knob; older checkpoints carry it
        trainer = cls(AMTLConfig(**meta["config"]))
        trainer.config.history = [float(v) for v in meta.get("history", [])]
        trainer.config.eval_history = [
            {t: float(l) for t, l in ev.items()} for ev in meta.get("eval_history", [])
        ]
        trainer.tasks = list(meta["tasks"])
        trainer.eval_min = {t: (float(l), int(i)) for t, (l, i) in meta["eval_min"].items()}
        idx = {t: i for i, t in enumerate(trainer.tasks)}
        wmap = {r["task"]: r["w"] for r in spark.read.parquet(f"{path}/W").collect()}
        trainer.W = np.asarray([wmap[t] for t in trainer.tasks], dtype=np.float64)
        trainer.B = np.zeros((len(trainer.tasks),) * 2)
        for r in spark.read.parquet(f"{path}/B").collect():
            trainer.B[idx[r["src_task"]], idx[r["dst_task"]]] = r["weight"]
        return trainer
