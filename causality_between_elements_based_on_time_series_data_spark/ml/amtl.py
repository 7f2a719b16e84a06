"""AMTL causality training loop (SURVEY.md §3.3, milestone 3).

Re-expresses the reference's objective (``/root/reference/
model.py:166-184``) on Spark:

    total = Σ_t (1 + μ‖B[t,:]‖₁) · CE_t/√n_t  +  λ Σ_t ‖w_t − Σ_j B[j,t]·w_j‖²

- Per-task logistic heads w_t (model.py:150-151) and the task×task
  causality matrix B with fixed zero diagonal (model.py:86-101).
- The *data-dependent* loss/gradient is distributed: one native
  ``groupBy(task).agg(...)`` pass per iteration.  The current weights
  ride in as a literal ``task -> array(w)`` map, so each row's logit
  ``z = Σ x[k]·w[k] + w_bias`` and its CE/gradient terms are Catalyst
  expressions, and the aggregate emits one row per task
  (n, Σloss, Σgrad) to the driver.  Hash partial aggregation sums each
  input partition before the shuffle, so a task's rows never meet in
  one place: the hot-key case ``operators/skew.py`` salts for does not
  arise, and no Python worker runs in the loop.
- The *parameter-space* AMTL terms touch only the [T×D] weight matrix
  and [T×T] B — pure numpy on the driver, exactly like the reference
  keeps them in the TF graph.
- The iteration loop is driver-side (model.py:232's range loop); the
  featurized input is cached once before the loop (SURVEY §4.2).

The learned B is the engine's causality output: B[i][j] = how much
task i's knowledge transfers to task j (model.py:296-310's dump).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import local_frame


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

    def _partials_df(self, feats: DataFrame) -> DataFrame:
        """The per-iteration distributed pipeline as a DataFrame: per
        task, n, the sigmoid-CE loss sum and the gradient sum (bias
        last) for the current weights (model.py:159 math).  Exposed
        separately so ``tests/test_plans.py`` can gate its physical
        plan (cached scan + exactly one Exchange on ``task``) against
        the REAL trainer code path."""
        d = self.W.shape[1] - 1
        w_of = F.create_map(
            *[
                c
                for t, w in zip(self.tasks, self.W.tolist())
                for c in (F.lit(t), F.array(*map(F.lit, w)))
            ]
        )
        w, x, y, z = F.col("__w"), F.col("x"), F.col("y"), F.col("__z")
        logits = feats.select("task", "x", "y", w_of[F.col("task")].alias("__w")).select(
            "task", "x", "y", sum((x[k] * w[k] for k in range(d)), w[d]).alias("__z")
        )
        # stable CE: max(z,0) - z*y + log1p(exp(-|z|))  (model.py:159)
        loss = F.greatest(z, F.lit(0.0)) - z * y + F.log1p(F.exp(-F.abs(z)))
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - y
        return logits.groupBy("task").agg(
            F.count("*").alias("n"),
            F.sum(loss).alias("loss_sum"),
            F.array(*[F.sum(resid * x[k]) for k in range(d)], F.sum(resid)).alias("grad"),
        )

    def _distributed_partials(self, feats: DataFrame) -> dict[str, tuple[float, float, np.ndarray]]:
        """``task -> (n, Σloss, Σgrad)``: one collect of T rows."""
        return {
            r["task"]: (r["n"], r["loss_sum"], np.asarray(r["grad"]))
            for r in self._partials_df(feats).collect()
        }

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

    def _minibatch(self, feats: DataFrame, it: int) -> DataFrame:
        """Per-iteration random minibatch of ``batch_size`` rows per
        task — the reference's ``get_batch`` sampling (model.py:
        187-214), made deterministic: seeded ``rand(seed + it)`` as
        the shuffle key, entity_id tie-break, ranking window per
        task.  One extra shuffle per iteration, traded against a
        gradient pass over ``batch_size·T`` rows instead of the full
        dataset — the standard SGD economics at 100 TB."""
        from pyspark.sql import Window

        w = Window.partitionBy("task").orderBy("__r", "entity_id")
        return (
            feats.withColumn("__r", F.rand(self.config.seed + it))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.config.batch_size)
            .drop("__r", "__rn")
        )

    def _eval_losses(self, eval_feats: DataFrame) -> dict[str, float]:
        """Mean eval CE per task with the current weights (the
        reference's keep_prob=1.0 eval pass, model.py:236-246)."""
        partials = self._distributed_partials(eval_feats)
        return {t: partials[t][1] / partials[t][0] for t in self.tasks if t in partials}

    def fit(self, feats: DataFrame, eval_feats: DataFrame | None = None) -> "AMTLTrainer":
        cfg = self.config
        feats = feats.select("entity_id", "task", "x", "y")
        feats.persist()  # cached once; the loop re-reads it every iteration
        if eval_feats is not None:
            eval_feats = eval_feats.select("entity_id", "task", "x", "y").persist()
        # one job yields both the task list and the feature width
        # (formerly a separate .first() probe — an extra Spark job per fit)
        task_rows = (
            feats.groupBy("task").agg(F.max(F.size("x")).alias("d")).orderBy("task").collect()
        )
        self.tasks = [r["task"] for r in task_rows]
        T = len(self.tasks)
        D = int(task_rows[0]["d"]) + 1  # + bias
        rng = np.random.default_rng(cfg.seed)
        self.W = rng.normal(0.0, 0.01, size=(T, D))
        self.B = np.zeros((T, T))

        for it in range(cfg.total_iter):
            batch = self._minibatch(feats, it) if cfg.batch_size else feats
            partials = self._distributed_partials(batch)
            n = np.array([partials[t][0] for t in self.tasks])
            loss = np.array([partials[t][1] for t in self.tasks]) / n
            grad = np.vstack([partials[t][2] for t in self.tasks]) / n[:, None]

            grad_W, grad_B, total = self._amtl_grads(
                self.W, self.B, n, loss, grad, cfg.mu, cfg.lambda_
            )

            self.W -= cfg.lr * grad_W
            self.B -= cfg.lr * grad_B
            np.fill_diagonal(self.B, 0.0)
            if it % cfg.check_iter == 0 or it == cfg.total_iter - 1:
                cfg.history.append(total)
                if eval_feats is not None:
                    ev = self._eval_losses(eval_feats)
                    cfg.eval_history.append(ev)
                    for t, l in ev.items():  # min + argmin iter (model.py:248-262)
                        if t not in self.eval_min or l < self.eval_min[t][0]:
                            self.eval_min[t] = (l, it)

        feats.unpersist()
        if eval_feats is not None:
            eval_feats.unpersist()
        return self

    def eval_min_df(self, spark: SparkSession) -> DataFrame:
        """Per-task minimum eval loss + the iteration it occurred —
        the queryable form of the reference's console min-tracking."""
        rows = [(t, float(l), int(i)) for t, (l, i) in sorted(self.eval_min.items())]
        return local_frame(spark, rows, "task string, min_eval_loss double, at_iter int")

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
        df = local_frame(spark, rows, "src_task string, dst_task string, weight double")
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
        local_frame(spark, w_rows, "task string, w array<double>").write.mode(
            "overwrite"
        ).parquet(f"{path}/W")
        b_rows = [
            (self.tasks[i], self.tasks[j], float(self.B[i, j]))
            for i in range(len(self.tasks))
            for j in range(len(self.tasks))
        ]
        local_frame(spark, b_rows, "src_task string, dst_task string, weight double").write.mode(
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
        local_frame(spark, [(json.dumps(meta),)], "meta string").write.mode(
            "overwrite"
        ).parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "AMTLTrainer":
        """Restore a trainer saved by :meth:`save`; the reloaded weights
        reproduce eval metrics exactly (round-trip pytest)."""
        import json

        meta = json.loads(spark.read.parquet(f"{path}/meta").first()["meta"])
        meta["config"].pop("grad_salt", None)  # retired option; older checkpoints carry it
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
