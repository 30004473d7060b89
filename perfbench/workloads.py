"""The benchmark's workloads.  Each is a closed loop with one client:

- ``query_mix``  a seeded order over overhead-bound registry queries at
                 the base scale, each forced with a noop write, plus one
                 ingest operation: ``streaming_merge_upsert`` draining
                 out-of-order part files one micro-batch per file;
- ``amtl_fit``   featurise (RETAIN) -> ``AMTLTrainer.fit`` with an eval
                 split -> ``write_b_matrix``, on the x10 events.

A workload runs untimed warm-up cycles, then timed cycles, then its
output checks (outside the timed region).  ``ops`` holds one record per
timed operation; ``failed_ops`` the ones that raised or whose output
failed a check.
"""

from __future__ import annotations

import gc
import glob
import math
import os
import random
import shutil
import time

import numpy as np
import pandas as pd

from tracing import Tracer, busy_share, geomean, median, quantile

# Bench-tagged registry queries with a DuckDB oracle whose warm time at
# the base scale is under ~1.3 s on 4 cores: the interactive path.  The
# cycle covers joins (q3, q21), a scan-aggregate (q1), window frames
# (sessionize, running sum), an as-of join, RETAIN featurisation and a
# lineage-cut text query (tfidf).
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q21_waiting_suppliers",
    "asof_last_click_before_purchase",
    "sessionize_events",
    "window_running_sum_frame",
    "retain_entity_features",
    "tfidf_top_terms",
)
# the mix's ingest operation: drain the out-of-order part files
STREAM_OP = "stream_upsert"

AMTL_ITERS = 6
AMTL_CHECK_ITER = 3  # eval losses at iterations 0, 3 and 5


class Workload:
    name = ""
    min_cycles = 2  # timed cycles run until --seconds have passed, and at least this many

    def __init__(self, spark, tracer: Tracer, data_dir: str, work_dir: str, seed: int, inject_wrong: bool):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.inject_wrong = inject_wrong
        self.cores = spark.sparkContext.defaultParallelism
        self.ops: list[dict] = []
        self.failed_ops: set[int] = set()
        self.problems: list[str] = []
        self.cycle_throughput: list[float] = []
        self.timed = False

    # subclasses: warmup(), cycle(k), check(), layers(), detail()

    def run_cycle(self, k: int) -> None:
        self.timed = True
        n0 = len(self.ops)
        self.cycle(k)
        ops = self.ops[n0:]
        self.cycle_throughput.append(
            sum(o.get("units", 1) for o in ops) / sum(o.get("unit_wall", o["wall"]) for o in ops)
        )

    def _op(self, rec: dict, fn) -> None:
        """Run one operation: timed and recorded after the warm-up, where
        an exception counts as a failure; during the warm-up an exception
        ends the run."""
        if not self.timed:
            fn(rec, None)
            return
        rec["id"] = len(self.ops)
        t0 = time.monotonic()
        try:
            with self.tracer.span(self.name, op=rec["id"]) as sp:
                fn(rec, sp)
        except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
            self.failed_ops.add(rec["id"])
            self.problems.append(f"op {rec['id']} {rec.get('what', '')}: {exc!r}"[:300])
        rec["wall"] = time.monotonic() - t0
        self.ops.append(rec)

    def latencies(self) -> dict[str, list[float]]:
        kinds: dict[str, list[float]] = {}
        for o in self.ops:
            kinds.setdefault(o["kind"], []).append(o["wall"])
        return kinds

    def end_to_end(self) -> dict[str, float]:
        """``latency_s``: geometric mean over operation kinds of each
        kind's median latency; ``throughput_per_s``: median over cycles
        of the cycle's units per second."""
        return {
            "latency_s": geomean([median(v) for v in self.latencies().values()]),
            "throughput_per_s": median(self.cycle_throughput),
        }

    # ---- per-layer aggregation shared by all workloads ------------------

    def _spans(self, name: str) -> list:
        """Spans of that name that belong to a timed operation."""
        return [s for s in self.tracer.spans if s.name == name and s.op is not None]

    @staticmethod
    def _sum(spans, key: str) -> float:
        return sum(s.counters.get(key, 0.0) for s in spans)

    def common_layers(self, out_rows: float) -> dict[str, float]:
        """Per-operation plan/exec/source/lineage counters.  Every job is
        attributed to exactly one (the innermost) span, so summing over
        all spans of the timed operations counts each job once."""
        spans = [s for s in self.tracer.spans if s.op is not None]
        ops = [s for s in spans if s.name == self.name]
        builds = [s for s in spans if s.name == "build"]
        n = max(len(ops), 1)
        wall = sum(s.wall for s in ops)
        build_of = {s.op: s.wall for s in builds}

        def per_op(key: str) -> float:
            return self._sum(spans, key) / n

        return {
            "plans.build_s": median([s.wall for s in builds]),
            "plans.build_share": sum(build_of.values()) / wall if wall else 0.0,
            "plans.build_jobs": sum(s.jobs for s in builds) / n,
            "plans.exec_s": median([s.wall - build_of.get(s.op, 0.0) for s in ops]),
            "plans.jobs": sum(s.jobs for s in spans) / n,
            "plans.stages": sum(s.stages for s in spans) / n,
            "plans.tasks": per_op("numTasks"),
            "plans.core_util": (
                self._sum(spans, "executorRunTime") / 1000.0 / (wall * self.cores) if wall else 0.0
            ),
            "exec.shuffle_write_bytes": per_op("shuffleWriteBytes"),
            "exec.shuffle_read_bytes": per_op("shuffleReadBytes"),
            "exec.spill_bytes": per_op("memoryBytesSpilled") + per_op("diskBytesSpilled"),
            "exec.executor_cpu_s": per_op("executorCpuTime") / 1e9,
            "exec.gc_s": per_op("jvmGcTime") / 1000.0,
            "sources.input_bytes": per_op("inputBytes"),
            "sources.input_records": per_op("inputRecords"),
            "sources.records_per_output_row": (
                self._sum(spans, "inputRecords") / out_rows if out_rows else 0.0
            ),
            "lineage.storage_peak_bytes": float(
                max((s.storage_bytes for s in self.tracer.spans), default=0)
            ),
        }


class QueryMix(Workload):
    name = "query_mix"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY

        self.registry = REGISTRY
        missing = [q for q in QUERY_MIX if q not in REGISTRY]
        if missing:
            raise SystemExit(f"query_mix: registry lacks {missing}")
        self.base = os.path.join(self.data_dir, "base")
        self.outputs: dict[str, list[pd.DataFrame]] = {}
        self.stream = UpsertDrain(self.spark, os.path.join(self.data_dir, "stream"), self.inject_wrong)

    def _order(self, k: int) -> list[str]:
        names = [*QUERY_MIX, STREAM_OP]
        random.Random(self.seed * 1000 + k).shuffle(names)
        return names

    def _collect(self, q: str) -> None:
        with self.tracer.span("collect"):
            pdf = self.registry[q].fn(self.spark, self.base).toPandas()
        self.outputs.setdefault(q, []).append(pdf)

    def _drain(self, rec: dict) -> None:
        """The ingest operation; its output is checked right after it,
        outside the timed op."""
        self._op(rec, self.stream.drain)
        problem = self.stream.after(rec)
        if problem:
            self.problems.append(problem)
            if "id" in rec:
                self.failed_ops.add(rec["id"])

    def warmup(self) -> None:
        """Two untimed cycles: one collecting every query's output for the
        checks, one exactly like a timed cycle (the first still leaves
        the JVM warming up: timed cycles would otherwise drift faster)."""
        for q in self._order(-1):
            if q == STREAM_OP:
                self._drain({"what": q})
            else:
                self._collect(q)
            gc.collect()
        self.cycle(-2)

    def cycle(self, k: int) -> None:
        for q in self._order(k):
            if q == STREAM_OP:
                self._drain({"what": q, "kind": q})
                continue

            def run(rec, sp, q=q):
                with self.tracer.span("build", op=rec.get("id")):
                    df = self.registry[q].fn(self.spark, self.base)
                with self.tracer.span("exec", op=rec.get("id")):
                    df.write.format("noop").mode("overwrite").save()

            self._op({"what": q, "kind": q}, run)
            # drop py4j DataFrame refs so ContextCleaner frees checkpoint blocks
            gc.collect()

    def check(self) -> None:
        from tests._compare import compare, duckdb_conn  # the repo's oracle-parity rules

        # re-collect every query after the timed loop, so repeated
        # execution in one session is checked too
        for q in QUERY_MIX:
            self._collect(q)
        con = duckdb_conn(self.base)
        wrong = set()
        for i, q in enumerate(QUERY_MIX):
            oracle = self.registry[q].oracle
            want = con.execute(oracle).df() if oracle else None
            if want is not None and self.inject_wrong and i == 0:
                want = want.iloc[1:]  # drop a row: the check must catch it
            for got in self.outputs[q]:
                probs = compare(got, want) if want is not None else ([] if len(got) else ["no rows"])
                if probs:
                    wrong.add(q)
                    self.problems.append(f"{q}: {probs[0]}"[:300])
        con.close()
        self.failed_ops |= {o["id"] for o in self.ops if o["what"] in wrong}

    def detail(self) -> dict:
        walls = [o["wall"] for o in self.ops if o["what"] != STREAM_OP]
        trig = self.stream.trigger_s()
        return {
            "query_p50_s": median(walls),
            "query_p90_s": quantile(walls, 0.9),
            "queries_per_s": len(walls) / sum(walls),
            "query_samples": len(walls),
            "batch_p50_s": median(trig),
            "batch_p90_s": quantile(trig, 0.9),
            "ingest_events_per_s": sum(o.get("events", 0) for o in self.ops)
            / sum(o["wall"] for o in self.ops if o["what"] == STREAM_OP),
            "batch_samples": len(trig),
            "per_op_s": {k: median(v) for k, v in self.latencies().items()},
        }

    def layers(self) -> dict[str, float]:
        rows = {q: len(v[0]) for q, v in self.outputs.items()}
        rows[STREAM_OP] = len(self.stream.expected)
        out = self.common_layers(sum(rows[o["what"]] for o in self.ops))
        out["ml.featurize_s"] = median(
            [o["wall"] for o in self.ops if o["what"] == "retain_entity_features"]
        )
        drains = {o["id"] for o in self.ops if o["what"] == STREAM_OP}
        out.update(self.stream.layers([s for s in self.tracer.spans if s.op in drains]))
        return out


class UpsertDrain:
    """``streaming_merge_upsert`` over a directory of part files, one
    micro-batch per file.  A streaming listener records every query's
    run id and progress (micro-batch durations and row counts); the
    drained state is checked against the batch ``max_by(value,
    struct(ts, event_id))`` per user, computed in pandas."""

    def __init__(self, spark, src_dir: str, inject_wrong: bool):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        class Progress(StreamingQueryListener):
            def __init__(self):
                self.runs: list[str] = []
                self.progress: dict[str, list] = {}

            def onQueryStarted(self, event):
                self.runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                self.progress.setdefault(str(p.runId), []).append(
                    (p.numInputRows, dict(p.durationMs))
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.src_dir = src_dir
        self.inject_wrong = inject_wrong
        self.listener = Progress()
        spark.streams.addListener(self.listener)
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.tmp = os.environ.get("TMPDIR", "/tmp")
        self.expected = self._expected()
        self.batches: list[tuple[int, dict]] = []  # timed drains only
        self.state_bytes: list[float] = []

    def _expected(self) -> pd.DataFrame:
        ev = pd.concat(
            pd.read_parquet(f, columns=["event_id", "ts", "user_id", "value"])
            for f in sorted(glob.glob(f"{self.src_dir}/events.parquet/*.parquet"))
        )
        last = ev.sort_values(["user_id", "ts", "event_id"]).groupby("user_id").tail(1)
        return pd.DataFrame(
            {
                "user_id": last["user_id"].to_numpy(),
                "last_value": last["value"].round(4).to_numpy(),
                "last_ts_us": last["ts"].astype("datetime64[us]").astype(np.int64).to_numpy(),
            }
        )

    def drain(self, rec: dict, sp) -> None:
        from causality_between_elements_based_on_time_series_data_spark.streaming.events_stream import (
            streaming_merge_upsert,
        )

        rec["run_from"] = len(self.listener.runs)
        if sp is not None:
            # micro-batch jobs run under the stream's runId job group; the
            # run id is known only once the stream has started
            sp.extra_groups = _LateGroups(self.listener.runs, rec["run_from"])
        rec["df"] = streaming_merge_upsert(self.spark, self.src_dir, max_files_per_trigger=1)

    def after(self, rec: dict) -> str | None:
        """Outside the timed op: progress events, output check, size of
        the final state, removal of the stream's state and checkpoint
        dirs.  Returns a problem description or None."""
        self.bus.waitUntilEmpty()
        runs = self.listener.runs[rec.pop("run_from") :]
        batches = [b for r in runs for b in self.listener.progress.get(r, [])]
        rec["events"] = sum(b[0] for b in batches)
        from tests._compare import compare

        problem = None
        df = rec.pop("df", None)
        if df is not None:
            want = self.expected.copy()
            if self.inject_wrong:
                want.loc[0, "last_value"] += 1.0
            probs = compare(df.toPandas(), want)
            if probs:
                problem = f"{STREAM_OP}: {probs[0]}"[:300]
        timed = "id" in rec
        for d in glob.glob(f"{self.tmp}/stream_merge_state_*"):
            cur = os.path.join(d, "_CURRENT")
            if timed and os.path.exists(cur):
                with open(cur) as fh:
                    files = glob.glob(f"{d}/{fh.read().strip()}/**", recursive=True)
                self.state_bytes.append(sum(os.path.getsize(f) for f in files if os.path.isfile(f)))
            shutil.rmtree(d, ignore_errors=True)
        for d in glob.glob(f"{self.tmp}/stream_merge_ckpt_*"):
            shutil.rmtree(d, ignore_errors=True)
        if timed:
            self.batches.extend(batches)
        return problem

    def trigger_s(self) -> list[float]:
        return [b[1]["triggerExecution"] / 1000.0 for b in self.batches]

    def layers(self, spans: list) -> dict[str, float]:
        def dur(key: str) -> float:
            return median([b[1].get(key, 0) / 1000.0 for b in self.batches])

        inp = sum(s.counters.get("inputBytes", 0.0) for s in spans)
        out = sum(s.counters.get("outputBytes", 0.0) for s in spans)
        return {
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.rows_per_batch": median([float(b[0]) for b in self.batches]),
            "streaming.bytes_written_per_input_byte": out / inp if inp else 0.0,
            "streaming.state_bytes": median(self.state_bytes),
        }


class AmtlFit(Workload):
    name = "amtl_fit"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.bpath = os.path.join(self.work_dir, "b_matrix")
        shutil.rmtree(self.bpath, ignore_errors=True)
        self.results: list[tuple[np.ndarray, np.ndarray, list[float], list[str], int]] = []

    def _features(self):
        from pyspark.sql import functions as F

        from causality_between_elements_based_on_time_series_data_spark.ml.retain import (
            retain_entity_features,
        )
        from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
            load_table,
        )

        x10 = os.path.join(self.data_dir, "x10")
        feats = retain_entity_features(load_table(self.spark, x10, "events"))
        med = feats.groupBy("task").agg(F.expr("percentile_approx(mean_value, 0.5)").alias("med"))
        ds = feats.join(F.broadcast(med), "task").select(
            "entity_id",
            "task",
            F.array("context", "recency_value", F.log1p("n_steps")).alias("x"),
            (F.col("mean_value") > F.col("med")).cast("double").alias("y"),
        )
        bucket = F.pmod(F.hash("entity_id"), F.lit(5))  # entity-level 80/20 split
        return ds, bucket

    def _config(self):
        from causality_between_elements_based_on_time_series_data_spark.ml.amtl import AMTLConfig

        return AMTLConfig(total_iter=AMTL_ITERS, check_iter=AMTL_CHECK_ITER, seed=self.seed)

    def _cycle(self, k: int, rec: dict, sp) -> None:
        from causality_between_elements_based_on_time_series_data_spark.ml.amtl import AMTLTrainer

        with self.tracer.span("featurize", op=rec.get("id")) as f:
            with self.tracer.span("build", op=rec.get("id")):
                ds, bucket = self._features()
            ds = ds.persist()
            rec["feature_rows"] = ds.count()
        with self.tracer.span("fit", op=rec.get("id")) as fs:
            cfg = self._config()
            trainer = AMTLTrainer(cfg).fit(ds.where(bucket < 4), eval_feats=ds.where(bucket >= 4))
        with self.tracer.span("b_write", op=rec.get("id")) as bw:
            trainer.write_b_matrix(self.spark, self.bpath, k)
        ds.unpersist()
        # cycle throughput = training iterations per second of fit
        rec.update(featurize=f.wall, fit=fs.wall, b_write=bw.wall, units=cfg.total_iter, unit_wall=fs.wall)
        self.results.append((trainer.W.copy(), trainer.B.copy(), list(cfg.history), list(trainer.tasks), k))

    def warmup(self) -> None:
        self.cycle(-1)

    def cycle(self, k: int) -> None:
        self._op({"what": f"cycle{k}", "kind": "cycle"}, lambda rec, sp: self._cycle(k, rec, sp))

    def check(self) -> None:
        ds, bucket = self._features()
        train = ds.where(bucket < 4).select("task", "x", "y").toPandas()
        cfg = self._config()
        W0, B0, hist0, tasks, _ = self.results[0]
        data = []
        for t in tasks:
            part = train[train["task"] == t]
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in part["x"]])
            data.append((np.hstack([X, np.ones((len(X), 1))]), part["y"].to_numpy(np.float64)))
        W, B, hist = replay_amtl(data, cfg)
        if self.inject_wrong:
            B = B + 1.0  # a wrong expectation: the check must catch it
        written = self.spark.read.parquet(self.bpath).toPandas()
        timed = {o["what"]: o["id"] for o in self.ops}
        for Wk, Bk, hk, tk, k in self.results:
            probs = []
            if tk != tasks or not (np.isfinite(Wk).all() and np.isfinite(Bk).all()):
                probs.append("non-finite weights or task list changed")
            if np.any(np.diag(Bk) != 0.0):
                probs.append("B diagonal not zero")
            if not (np.allclose(Wk, W, rtol=1e-6, atol=1e-9) and np.allclose(Bk, B, rtol=1e-6, atol=1e-9)):
                probs.append("W/B differ from the numpy recomputation")
            if not np.allclose(hk, hist, rtol=1e-9):
                probs.append("objective history differs from the numpy recomputation")
            got = written[written["round"] == k]
            want = {(tasks[i], tasks[j]): round(float(Bk[i, j]), 6) for i in range(len(tasks)) for j in range(len(tasks)) if i != j}
            if len(got) != len(want) or any(
                not math.isclose(r.weight, want.get((r.src_task, r.dst_task), math.nan), abs_tol=1e-9)
                for r in got.itertuples()
            ):
                probs.append("written B matrix differs from the trainer's B")
            if probs:
                self.problems.append(f"amtl cycle {k}: {probs[0]}")
                if f"cycle{k}" in timed:
                    self.failed_ops.add(timed[f"cycle{k}"])

    def detail(self) -> dict:
        return {
            "b_matrix_s": median([o["wall"] for o in self.ops]),
            "train_iters_per_s": median(self.cycle_throughput),
            "samples": len(self.ops),
        }

    def layers(self) -> dict[str, float]:
        out = self.common_layers(sum(o.get("feature_rows", 0) for o in self.ops))
        fits = self._spans("fit")
        iters = AMTL_ITERS * max(len(fits), 1)
        fit_wall = sum(s.wall for s in fits)
        busy = sum(
            busy_share(s.job_intervals, s.epoch_ms, s.epoch_ms + s.wall * 1000.0) * s.wall
            for s in fits
        )
        out.update(
            {
                "ml.featurize_s": median([o["featurize"] for o in self.ops if "featurize" in o]),
                "ml.b_write_s": median([o["b_write"] for o in self.ops if "b_write" in o]),
                "ml.iter_s": fit_wall / iters,
                "ml.jobs_per_iter": sum(s.jobs for s in fits) / iters,
                "ml.tasks_per_iter": self._sum(fits, "numTasks") / iters,
                "ml.executor_cpu_per_iter_s": self._sum(fits, "executorCpuTime") / 1e9 / iters,
                "ml.driver_gap_share": 1.0 - busy / fit_wall if fit_wall else 0.0,
            }
        )
        return out


def replay_amtl(data: list[tuple[np.ndarray, np.ndarray]], cfg) -> tuple[np.ndarray, np.ndarray, list[float]]:
    """Full-batch AMTL gradient descent in numpy on the driver.

    Objective (per task t, rows X_t with bias column, labels y_t):
        J = sum_t (1 + mu*|B[t,:]|_1) * CE_t / sqrt(n_t) + lam * sum_t |r_t|^2,
        r = W - B^T W,  CE_t = mean stable sigmoid cross-entropy.
    Gradients are derived here from J, independently of the trainer."""
    T, D = len(data), data[0][0].shape[1]
    rng = np.random.default_rng(cfg.seed)
    W = rng.normal(0.0, 0.01, size=(T, D))
    B = np.zeros((T, T))
    n = np.array([len(y) for _, y in data], dtype=np.float64)
    history = []
    for it in range(cfg.total_iter):
        ce, g = np.empty(T), np.empty((T, D))
        for t, (X, y) in enumerate(data):
            z = X @ W[t]
            ce[t] = (np.maximum(z, 0) - z * y + np.log1p(np.exp(-np.abs(z)))).mean()
            g[t] = X.T @ (1.0 / (1.0 + np.exp(-z)) - y) / len(y)
        s = (1.0 + cfg.mu * np.abs(B).sum(axis=1)) / np.sqrt(n)
        r = W - B.T @ W
        total = float((s * ce).sum() + cfg.lambda_ * (r**2).sum())
        gW = s[:, None] * g + 2.0 * cfg.lambda_ * (r - B @ r)
        gB = cfg.mu * np.sign(B) * (ce / np.sqrt(n))[:, None] - 2.0 * cfg.lambda_ * (W @ r.T)
        np.fill_diagonal(gB, 0.0)
        W = W - cfg.lr * gW
        B = B - cfg.lr * gB
        np.fill_diagonal(B, 0.0)
        if it % cfg.check_iter == 0 or it == cfg.total_iter - 1:
            history.append(total)
    return W, B, history


class _LateGroups(list):
    """Job groups resolved when the tracer collects the span: the run
    ids the listener saw after ``start`` (the stream starts inside the
    span, so its run id is only known afterwards)."""

    def __init__(self, runs: list[str], start: int):
        super().__init__()
        self.runs, self.start = runs, start

    def __iter__(self):
        return iter(self.runs[self.start :])


WORKLOADS = {w.name: w for w in (QueryMix, AmtlFit)}
