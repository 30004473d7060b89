"""ML-lifecycle queries: RETAIN feature pipeline, AMTL causality
training, and the streaming skin (SURVEY.md milestones 2, 3, 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.amtl import AMTLConfig, AMTLTrainer
from ..ml.retain import retain_entity_features
from ..sources.catalog import load_table
from .registry import register, sql_tanh


@register(
    "retain_entity_features",
    oracle=f"""
    WITH s AS (
        SELECT user_id, event_type, ts, event_id, value,
               coalesce((value - avg(value) OVER w)
                        / nullif(stddev_samp(value) OVER w, 0), 0) AS z
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type)
    ),
    m AS (
        SELECT user_id, event_type, ts, event_id, value, z,
               max(z) OVER (PARTITION BY user_id, event_type) AS mz
        FROM s
    ),
    a AS (
        SELECT user_id, event_type, value, z,
               exp(z - mz)
               / sum(exp(z - mz)) OVER (PARTITION BY user_id, event_type) AS alpha,
               exp(-0.1 * (row_number() OVER (PARTITION BY user_id, event_type
                                              ORDER BY ts DESC, event_id DESC) - 1)) AS decay
        FROM m
    )
    SELECT user_id AS entity_id, event_type AS task,
           count(*) AS n_steps,
           round(sum(alpha * {sql_tanh("z")}), 6)   AS context,
           round(sum(decay * value) / sum(decay), 6) AS recency_value,
           round(avg(value), 6)                 AS mean_value
    FROM a
    GROUP BY user_id, event_type
    """,
    doc="The full RETAIN feature pipeline (embed → α softmax → β tanh "
    "→ context, model.py:131-147) per (entity, task), fused by "
    "Catalyst into a single shuffle on the entity-task key.",
    tags=("ml", "retain", "bench"),
)
def retain_entity_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retain_entity_features(load_table(spark, sf_dir, "events"))


@register(
    "amtl_causality_matrix",
    oracle=None,  # iterative training — rows-only check (T·(T−1) rows);
    # numerics validated against a numpy golden model in tests/test_ml.py
    doc="AMTL causality matrix B after a short deterministic training "
    "run (model.py:166-184 objective; diagonal structurally absent, "
    "model.py:92). Distributed partial-gradient aggregation in one "
    "unshuffled mapInArrow pass per iteration; driver-side parameter "
    "updates.",
    tags=("ml", "amtl"),
)
def amtl_causality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trained_amtl(spark, sf_dir).b_matrix_df(spark)


@register(
    "amtl_training_history",
    oracle=None,  # iterative training — rows-only; monotone-decrease
    # property asserted in tests/test_ml.py
    doc="Training-lifecycle metrics: total AMTL objective at each "
    "checkpoint (the reference's eval-loop console stream + min "
    "tracking, model.py:236-262) as a queryable DataFrame.",
    tags=("ml", "amtl"),
)
def amtl_training_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = _trained_amtl(spark, sf_dir).config
    rows = [(i, float(v)) for i, v in enumerate(cfg.history)]
    return spark.createDataFrame(rows, "checkpoint int, total_loss double").select(
        "checkpoint", F.round("total_loss", 6).alias("total_loss")
    )


@register(
    "amtl_train_iterations",
    oracle=None,  # iterative training is driver-looped — rows-only;
    # the execution-shape claims are GATED in tests/test_plans.py
    # (one cached scan per iteration: InMemoryTableScan + MapInArrow
    # and no Exchange in the pass plan) and tests/test_ml.py
    # (<= 2*T rows per partition collected to the driver per pass); the
    # numerics are the same trainer pinned by the numpy goldens
    doc="The reference's ACTUAL workload as a bench entry (model.py's "
    "training loop, VERDICT r6 #4): a fixed-3-iteration AMTL fit at "
    "the bench SF, fresh each pass so the bench times training, not "
    "a cache. Each iteration = one unshuffled mapInArrow pass over the "
    "persisted train-and-eval input (one partition per core, held-out "
    "eval fused in), <= 2*T tiny partial rows per partition to the "
    "driver, numpy parameter update. Emits the per-iteration objective.",
    tags=("ml", "amtl", "bench", "eager"),
)
def amtl_train_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = AMTLConfig(total_iter=3, check_iter=1)
    train, _ = _split_feats(spark, sf_dir)
    AMTLTrainer(cfg).fit(train)
    rows = [(i, float(v)) for i, v in enumerate(cfg.history)]
    return spark.createDataFrame(rows, "checkpoint int, total_loss double").select(
        "checkpoint", F.round("total_loss", 6).alias("total_loss")
    )


def _featurized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = retain_entity_features(load_table(spark, sf_dir, "events"))
    med = feats.groupBy("task").agg(F.expr("percentile_approx(mean_value, 0.5)").alias("med"))
    return feats.join(F.broadcast(med), "task").select(
        "entity_id",
        "task",
        F.array("context", "recency_value", F.log1p("n_steps")).alias("x"),
        (F.col("mean_value") > F.col("med")).cast("double").alias("y"),
    )


def _split_feats(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic 80/20 entity-level train/eval split — the
    reference's fit-on-train / score-on-held-out protocol
    (run.py:46-55).  Entity-keyed hashing keeps every row of an entity
    on one side, so eval entities are truly unseen."""
    ds = _featurized_events(spark, sf_dir)
    bucket = F.pmod(F.hash("entity_id"), F.lit(5))
    return ds.where(bucket < 4), ds.where(bucket >= 4)


# One deterministic training run serves every AMTL query in a session
# (matrix, history, eval metrics, checkpoint round-trip all read the
# same fitted trainer — identical numerics, 4× less iterative work).
_TRAINER_CACHE: dict[tuple, AMTLTrainer] = {}


def _trained_amtl(spark: SparkSession, sf_dir: str) -> AMTLTrainer:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRAINER_CACHE:
        cfg = AMTLConfig(total_iter=10, check_iter=2)
        train, ev = _split_feats(spark, sf_dir)
        _TRAINER_CACHE[key] = AMTLTrainer(cfg).fit(train, eval_feats=ev)
    return _TRAINER_CACHE[key]


@register(
    "amtl_eval_metrics",
    oracle=None,  # depends on trained weights — rows-only; metric math
    # itself is oracle-checked by auc_mann_whitney / accuracy_at_threshold
    doc="Post-training eval metrics per task (the reference's console "
    "block, model.py:241-292): AUC (rank-based) and accuracy of the "
    "trained AMTL heads on the HELD-OUT 20% entity split (run.py:46-55 "
    "protocol), computed distributed from broadcast weights.",
    tags=("ml", "amtl", "metric"),
)
def amtl_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.arrays import dot_product
    from ..functions.scalar import sigmoid

    _, ds = _split_feats(spark, sf_dir)
    trainer = _trained_amtl(spark, sf_dir)
    w_rows = [
        (t, [float(v) for v in trainer.W[i][:-1]], float(trainer.W[i][-1]))
        for i, t in enumerate(trainer.tasks)
    ]
    w_df = spark.createDataFrame(w_rows, "task string, w array<double>, bias double")
    scored = ds.join(F.broadcast(w_df), "task").select(
        "task",
        "entity_id",
        "y",
        sigmoid(dot_product(F.col("x"), F.col("w")) + F.col("bias")).alias("p"),
    )
    rk = W.partitionBy("task").orderBy("p", "entity_id")
    ranked = scored.withColumn("r", F.row_number().over(rk).cast("double"))
    pos = F.sum(F.when(F.col("y") == 1.0, 1.0).otherwise(0.0))
    neg = F.sum(F.when(F.col("y") == 0.0, 1.0).otherwise(0.0))
    sum_r_pos = F.sum(F.when(F.col("y") == 1.0, F.col("r")).otherwise(0.0))
    return ranked.groupBy("task").agg(
        F.round((sum_r_pos - pos * (pos + 1) / 2) / (pos * neg), 4).alias("auc"),
        F.round(100.0 * F.avg(((F.col("p") >= 0.5) == (F.col("y") == 1.0)).cast("double")), 2).alias(
            "accuracy_pct"
        ),
        F.count("*").alias("n"),
    )


@register(
    "amtl_eval_min",
    oracle=None,  # iterative training on trained weights — rows-only;
    # population + reproducibility asserted in tests/test_ml.py
    doc="Min-tracking over the held-out eval loss (model.py:248-262): "
    "per task, the minimum mean eval CE seen at any checkpoint and the "
    "iteration it occurred — the reference's best-epoch selection "
    "surfaced as a queryable DataFrame.",
    tags=("ml", "amtl", "metric"),
)
def amtl_eval_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _trained_amtl(spark, sf_dir).eval_min_df(spark)
    return df.select("task", F.round("min_eval_loss", 6).alias("min_eval_loss"), "at_iter")


@register(
    "retain_fidelity_predictions",
    oracle=None,  # recurrent forward pass — not SQL-expressible;
    # validated against an independent numpy oracle in tests/test_rnn.py
    doc="RNN-fidelity mode: exact RETAIN forward semantics (reverse-"
    "time LSTM → α/β attention → context → task head, model.py:61-147) "
    "as a self-contained applyInPandas kernel per (entity, task).",
    tags=("ml", "retain", "rnn"),
)
def retain_fidelity_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.rnn import retain_fidelity

    return retain_fidelity(load_table(spark, sf_dir, "events"))


@register(
    "retain_fidelity_gru",
    oracle=None,  # recurrent forward pass — not SQL-expressible;
    # validated against an independent numpy oracle in tests/test_rnn.py
    doc="RNN-fidelity mode with the GRU cell — the reference's default "
    "cell-factory branch (model.py:109-111; LSTM is the use_lstm "
    "branch). Same single-shuffle mapInPandas execution shape.",
    tags=("ml", "retain", "rnn"),
)
def retain_fidelity_gru(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.rnn import retain_fidelity

    return retain_fidelity(load_table(spark, sf_dir, "events"), cell="gru")


@register(
    "amtl_checkpoint_roundtrip",
    oracle=None,  # iterative training — rows-only; exact-equality
    # round-trip asserted in tests/test_ml.py
    doc="The checkpoint sink (model.py:216-217 tf.train.Saver analog) "
    "exercised end-to-end: train → save(parquet W+B+meta) → load → "
    "emit the causality matrix from the RELOADED trainer. Output "
    "equals amtl_causality_matrix exactly by construction.",
    tags=("ml", "amtl", "sink"),
)
def amtl_checkpoint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    trainer = _trained_amtl(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="amtl_ckpt_")
    try:
        trainer.save(spark, path)
        reloaded = AMTLTrainer.load(spark, path)
        # materialize before the checkpoint dir disappears
        df = reloaded.b_matrix_df(spark)
        df.collect()
        return df
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_tumbling_rollup",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS hour_start,
           count(*)               AS n,
           round(sum(value), 4)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window rollup with watermark, "
    "driven to completion on the parquet fixture. The oracle is the "
    "equivalent BATCH aggregate — batch/stream parity is the check.",
    tags=("streaming", "timeseries"),
)
def streaming_tumbling_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_tumbling_rollup

    return streaming_tumbling_rollup(spark, sf_dir)


@register(
    "streaming_sliding_rollup",
    oracle="""
    WITH expanded AS (
        SELECT event_type, value,
               unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS ws
        FROM events
    )
    SELECT event_type,
           CAST(epoch_us(ws) AS BIGINT) AS window_start_us,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM expanded
    GROUP BY event_type, ws
    """,
    doc="Structured Streaming sliding windows (2 h size, 1 h slide, "
    "watermark, complete mode). Oracle expands each event into its "
    "two covering windows in batch SQL — stream/batch parity again.",
    tags=("streaming", "timeseries"),
)
def streaming_sliding_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_sliding_rollup

    return streaming_sliding_rollup(spark, sf_dir)


@register(
    "streaming_session_rollup",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
           count(*) AS n_events,
           round(sum(value), 4) AS session_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Structured Streaming session windows (30-min gap, watermark, "
    "complete mode) driven to completion on the fixture; the oracle is "
    "the same lag+cumsum batch sessionization that checks the batch "
    "session_window_rollup — stream/batch parity on merging windows.",
    tags=("streaming", "timeseries", "window"),
)
def streaming_session_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_session_rollup

    return streaming_session_rollup(spark, sf_dir)


@register(
    "streaming_dedup_counts",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming exact dedup (dropDuplicatesWithinWatermark, bounded "
    "state): the stream unioned with itself — every event delivered "
    "twice — must aggregate back to exactly the batch GROUP BY after "
    "dedup on event_id.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_dedup_counts

    return streaming_dedup_counts(spark, sf_dir)


@register(
    "streaming_interval_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
        SELECT p.user_id, p.event_id AS p_event, c.value AS c_value
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    )
    SELECT user_id, count(*) AS n_pairs,
           count(DISTINCT p_event) AS n_purchases_with_click,
           round(sum(c_value), 4) AS clicked_value
    FROM joined
    GROUP BY user_id
    """,
    doc="Stream-stream interval join (watermarked both sides, bounded "
    "join state): purchases matched to the same user's clicks in the "
    "preceding 30 minutes.  Oracle = the identical interval join in "
    "batch SQL — stream/batch join parity.",
    tags=("streaming", "join"),
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_interval_join

    return streaming_interval_join(spark, sf_dir)


@register(
    "streaming_static_dim_join",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment join: the event stream broadcast-"
    "joined to the customer dimension per micro-batch (no join "
    "state), then windowless-aggregated in complete mode. Oracle = "
    "the same join + GROUP BY in batch.",
    tags=("streaming", "join"),
)
def streaming_static_dim_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_static_dim_join

    return streaming_static_dim_join(spark, sf_dir)


@register(
    "streaming_foreachbatch_parquet_sink",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming parquet sink via foreachBatch (the production sink "
    "pattern: per-micro-batch exactly-once appends through the batch "
    "writer, with a streaming checkpoint). Parity: aggregating the "
    "sink's contents must equal the batch GROUP BY over the source.",
    tags=("streaming", "sink"),
)
def streaming_foreachbatch_parquet_sink_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_foreachbatch_parquet_sink

    return streaming_foreachbatch_parquet_sink(spark, sf_dir)


@register(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="Arbitrary stateful streaming (applyInPandasWithState): "
    "per-user running (count, sum) state in update mode; the final "
    "emitted state must equal the batch GROUP BY.",
    tags=("streaming", "stateful"),
)
def streaming_stateful_user_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_stateful_user_totals

    return streaming_stateful_user_totals(spark, sf_dir)


@register(
    "streaming_append_finalized_windows",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events)
    SELECT event_type,
           CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_start_us,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events, m
    GROUP BY event_type, date_trunc('hour', ts), mx
    HAVING date_trunc('hour', ts) + INTERVAL 2 HOUR <= mx
    """,
    doc="Structured Streaming APPEND-mode rollup: each tumbling "
    "window is emitted exactly once, after the event-time watermark "
    "(max event time - 1 h) passes its end — the mode a production "
    "file/Delta sink needs (no rewrites, no re-emission); the tail "
    "windows the watermark never closed are withheld.  The oracle is "
    "the batch aggregate HAVING window_end <= max(ts) - 1 h: "
    "emission-set parity, not just value parity, is the check.  "
    "Ties (max ts exactly on an hour+delay boundary) are the only "
    "dialect risk and cannot occur with the fixture's µs-random "
    "timestamps.",
    tags=("streaming", "timeseries"),
)
def streaming_append_finalized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_append_finalized

    return streaming_append_finalized(spark, sf_dir)


@register(
    "streaming_pairwise_correlation",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events, m
        GROUP BY date_trunc('hour', ts), event_type, mx
        HAVING date_trunc('hour', ts) + INTERVAL 2 HOUR <= mx
    )
    SELECT a.event_type AS series_a, b.event_type AS series_b,
           round(corr(a.v, b.v), 4) AS pearson_r,
           count(*) AS n_hours
    FROM hourly a JOIN hourly b
      ON a.hour = b.hour AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    doc="The causality screen gone incremental: the hour x series "
    "grid is maintained by a real append-mode streaming query "
    "(finalized windows only — the production-sink discipline), and "
    "pairwise Pearson correlation runs over the emitted grid.  The "
    "oracle is the batch grid restricted to the windows the final "
    "watermark closed (hour + 2h <= max ts) — emission-set AND value "
    "parity with pairwise_series_correlation's math.  At 100 TB the "
    "stream state is |open windows| x |series|; each screen refresh "
    "reads the appended grid, never the raw events again.",
    tags=("streaming", "causality", "timeseries"),
)
def streaming_pairwise_correlation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_pairwise_correlation

    return streaming_pairwise_correlation(spark, sf_dir)


@register(
    "streaming_merge_upsert",
    oracle="""
    WITH r AS (
        SELECT user_id, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, round(value, 4) AS last_value,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
    FROM r WHERE rn = 1
    """,
    doc="Streaming CDC sink: every micro-batch MERGEs into a per-user "
    "parquet dimension via foreachBatch with a NEWEST-WINS recency "
    "condition (union current state + batch, re-reduce by max ts) — "
    "idempotent and robust to out-of-order micro-batches, the "
    "pattern a production upsert sink needs without a transactional "
    "table format.  Parity: the drained state must equal the batch "
    "latest-event-per-user over the whole fixture.  At scale both "
    "merge legs shuffle once on the user key and the dimension "
    "rewrite is partition-wise.",
    tags=("streaming", "sink"),
)
def streaming_merge_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_merge_upsert

    return streaming_merge_upsert(spark, sf_dir)


@register(
    "streaming_psi_monitor",
    oracle="""
    WITH bounds AS (
        SELECT min(value) AS mn, max(value) AS mx FROM events
    ),
    binned AS (
        SELECT least(9, CAST(floor((e.value - b.mn) / ((b.mx - b.mn) / 10))
                             AS INTEGER)) AS bin,
               CAST(e.ts < TIMESTAMP '2024-01-16 00:00:00' AS INTEGER) AS p1
        FROM events e CROSS JOIN bounds b
    ),
    grid AS (SELECT unnest(range(0, 10)) AS bin),
    counts AS (
        SELECT g.bin,
               CAST(coalesce(sum(b.p1), 0) AS DOUBLE) AS c1,
               CAST(coalesce(sum(1 - b.p1), 0) AS DOUBLE) AS c2
        FROM grid g LEFT JOIN binned b ON b.bin = g.bin
        GROUP BY g.bin
    ),
    tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM counts)
    SELECT round(sum(((c.c2 + 1) / (t.n2 + 10) - (c.c1 + 1) / (t.n1 + 10))
                     * ln(((c.c2 + 1) / (t.n2 + 10))
                          / ((c.c1 + 1) / (t.n1 + 10)))), 6) AS psi,
           CAST(max(t.n1) AS BIGINT) AS n_period1,
           CAST(max(t.n2) AS BIGINT) AS n_period2
    FROM counts c CROSS JOIN tot t
    """,
    doc="Streaming drift monitor with a FULL value oracle: the "
    "period-1 reference histogram is batch-computed, period-2 traffic "
    "streams through a complete-mode per-bin count (the running "
    "histogram a dashboard polls), and the final PSI from the last "
    "emitted state must equal the batch psi_value_drift computation "
    "exactly — stream/batch parity on the drift metric itself, not "
    "just on counts.",
    tags=("streaming", "dataops", "drift"),
)
def streaming_psi_monitor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_psi_monitor

    return streaming_psi_monitor(spark, sf_dir)


@register(
    "streaming_topk_trending",
    oracle="""
    WITH counts AS (
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT hour_start, event_type, n,
               CAST(row_number() OVER (PARTITION BY hour_start
                                       ORDER BY n DESC, event_type)
                    AS INTEGER) AS rnk
        FROM counts
    )
    SELECT hour_start, event_type, n, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY hour_start, rnk
    """,
    doc="Streaming trending top-k: the stream maintains the hour x "
    "element count state in complete mode; top-3 per window ranks "
    "the maintained table at read time (the counts-in-stream, "
    "ranks-at-serve production split — ranking is not an incremental "
    "operator).  Oracle = batch hourly counts + row_number, so "
    "stream/batch parity covers the values AND the emission set.",
    tags=("streaming", "timeseries", "window"),
)
def streaming_topk_trending_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_topk_trending

    return streaming_topk_trending(spark, sf_dir)


def _register_streaming_page_hinkley() -> None:
    # Deferred import: queries_panel owns the detector chain AND its
    # oracle; importing it lazily here keeps plans/__init__'s module
    # order irrelevant.
    from .queries_panel import PAGE_HINKLEY_ORACLE

    @register(
        "streaming_page_hinkley",
        oracle=PAGE_HINKLEY_ORACLE,
        doc="Streaming drift monitor with a FULL value oracle: the "
        "per-day mean table is maintained by a complete-mode "
        "streaming aggregation and the Page-Hinkley detector runs "
        "over the final emitted state via the SAME window chain as "
        "the batch page_hinkley_drift — stream/batch parity on the "
        "detector output (lambda, max excess, first alarm day), not "
        "just on counts.  Means in the stream, detector at read "
        "time: recomputing PH from the maintained day table on each "
        "poll raises the same alarms an incremental evaluator "
        "would, because new days only append to the walk.",
        tags=("streaming", "dataops", "drift", "causality", "eager"),
    )
    def streaming_page_hinkley_q(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..streaming.events_stream import streaming_page_hinkley

        return streaming_page_hinkley(spark, sf_dir)


_register_streaming_page_hinkley()


@register(
    "streaming_corpus_quality_gate",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN ok THEN doc_id END) AS BIGINT)
               AS kept_id_checksum
    FROM (
        SELECT lang, doc_id,
               length(string_split(text, ' ')) BETWEEN 20 AND 90
               AND length(list_distinct(string_split(text, ' '))) * 1.0
                   / length(string_split(text, ' ')) >= 0.35 AS ok
        FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Ingest-time quality gating as a stream (documents as arriving "
    "files): stateless per-row gate — the corpus_build_funnel stage-1 "
    "heuristics — plus a |langs|-bounded running acceptance rollup in "
    "complete mode; the fixture-driven run equals the batch GROUP BY "
    "bit-for-bit (per-lang counts AND the kept-set id checksum), which "
    "is what the oracle hash-checks.",
    tags=("streaming", "llm", "text-quality"),
)
def streaming_corpus_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import streaming_corpus_quality_gate

    return streaming_corpus_quality_gate(spark, sf_dir)


from .queries_llm import _DECON_W as _DW  # single source for the 13-gram width


@register(
    "streaming_eval_decontamination",
    # window width comes from queries_llm._DECON_W on BOTH sides
    # (this oracle and the streaming query) so changing the constant
    # cannot desynchronize the stream from its oracle or from the
    # batch eval_decontamination semantics it mirrors
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               doc_id % 20 = 3 AS is_eval
        FROM documents
    ),
    wins AS (
        SELECT doc_id, is_eval,
               md5(array_to_string(
                   list_slice(toks, i, i + {_DW} - 1), ' ')) AS wh
        FROM arrs, unnest(range(1, len(toks) - {_DW} + 2)) AS t(i)
        WHERE len(toks) >= {_DW}
    ),
    ev AS (SELECT DISTINCT wh FROM wins WHERE is_eval),
    hits AS (
        SELECT w.doc_id, count(*) AS nh
        FROM wins w JOIN ev USING (wh)
        WHERE NOT w.is_eval
        GROUP BY 1
    )
    SELECT a.lang,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(coalesce(sum(h.nh), 0) AS BIGINT) AS hit_windows,
           CAST(sum(CASE WHEN h.doc_id IS NULL THEN a.doc_id END)
                AS BIGINT) AS clean_id_checksum
    FROM arrs a LEFT JOIN hits h USING (doc_id)
    WHERE NOT a.is_eval
    GROUP BY a.lang ORDER BY a.lang
    """,
    doc="Ingest-time benchmark decontamination as a stream: arriving "
    "training docs' 13-token md5 windows LEFT-SEMI join the STATIC "
    "eval-suite window set per micro-batch (the benchmark ships "
    "separately and changes rarely — the canonical stream-static "
    "join), with stream state bounded by MATCHED docs only (the semi "
    "join filters before the stateful agg); the per-lang rollup "
    "finalizes at read time against batch-side totals.  The "
    "fixture-driven run equals the batch eval_decontamination "
    "semantics bit-for-bit (plus the per-doc hit-window counts only "
    "the streaming form maintains), which the oracle hash-checks.",
    tags=("streaming", "llm", "dedup"),
)
def streaming_eval_decontamination_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.events_stream import streaming_eval_decontamination

    return streaming_eval_decontamination(spark, sf_dir)


from .queries_llm import _MH_MAX_BUCKET as _MHB
from .queries_llm import _band_core_sql as _bands_sql


@register(
    "streaming_incremental_dedup_report",
    oracle=f"""
    WITH thr AS (
        SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t
        FROM documents
    ),
    {_bands_sql()},
    idxb AS (
        SELECT b.band_id, b.band_val, count(*) AS n_idx
        FROM bands b JOIN thr ON b.doc_id < thr.t
        GROUP BY 1, 2
    ),
    okidx AS (
        SELECT band_id, band_val FROM idxb WHERE n_idx <= {_MHB}
    ),
    candd AS (
        SELECT DISTINCT b.doc_id
        FROM bands b
        JOIN thr ON b.doc_id >= thr.t
        JOIN okidx USING (band_id, band_val)
    ),
    exact AS (
        SELECT DISTINCT b.doc_id
        FROM documents b JOIN thr ON b.doc_id >= thr.t
        WHERE EXISTS (
            SELECT 1 FROM documents i, thr t2
            WHERE i.doc_id < t2.t AND i.text = b.text
        )
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cand_docs,
           CAST(coalesce(sum(CASE WHEN e.doc_id IS NULL
                                  THEN d.doc_id END), 0) AS BIGINT)
               AS clean_id_checksum
    FROM documents d
    JOIN thr ON d.doc_id >= thr.t
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN candd c ON c.doc_id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Per-ingest dedup report as the batch STREAMS in, probing the "
    "persisted index (tables built once batch-side; arriving docs "
    "probe them per micro-batch through foreachBatch — tier-1 exact "
    "sha2 semi-join + tier-2 band-signature semi-join against the "
    "index's guarded buckets).  Per-doc verdicts depend only on "
    "(doc, static index), so the summed report is micro-batch-"
    "partitioning-independent and equals the one-shot batch "
    "computation bit-for-bit — which this oracle hash-checks.  The "
    "hot-bucket guard sees INDEX-side occupancy only (a stream "
    "cannot know its whole batch's occupancy mid-flight); batch-side "
    "occupancy refinement and tier-3 Jaccard verify remain the batch "
    "probe's job, fed by the quarantined candidates this report "
    "counts.",
    tags=("streaming", "llm", "dedup", "pipeline"),
)
def streaming_incremental_dedup_report_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.events_stream import streaming_incremental_dedup_report

    return streaming_incremental_dedup_report(spark, sf_dir)


from .queries_llm import _ann_lifecycle_core_sql as _ann_core_sql


@register(
    "streaming_ann_vector_ingest",
    oracle=f"""
    WITH {_ann_core_sql()},
    codes AS (
        SELECT e.vec_id, e.d,
               CASE WHEN s.mx > s.mn
                    THEN least(255, greatest(0,
                         CAST(round((e.v - s.mn)
                                    / ((s.mx - s.mn) / 255.0), 0)
                              AS INTEGER)))
                    ELSE 0 END AS code,
               CASE WHEN s.mn IS NULL OR e.v < s.mn OR e.v > s.mx
                    THEN 1 ELSE 0 END AS dim_oob
        FROM ev e
        JOIN cl1 c ON c.vec_id = e.vec_id
        LEFT JOIN cdims1 s ON s.cl = c.cl AND s.d = e.d
        CROSS JOIN thr
        WHERE e.vec_id >= thr.t
    ),
    pervec AS (
        SELECT vec_id,
               sum(code) % 1000000007 AS code_sum,
               max(dim_oob) AS oob
        FROM codes GROUP BY 1
    )
    SELECT x.label,
           CAST(count(*) AS BIGINT) AS n_ingested,
           CAST(sum(p.oob) AS BIGINT) AS n_oob,
           CAST(sum(p.code_sum) AS BIGINT) AS code_checksum
    FROM embeddings x
    JOIN pervec p ON p.vec_id = x.vec_id
    GROUP BY x.label ORDER BY x.label
    """,
    doc="Vector INGEST as the batch streams in, quantizing against "
    "the persisted ANN index (built once batch-side; arriving vectors "
    "flow through foreachBatch — inverted-list assignment with the "
    "CURRENT geometry, uint8 quantization against the CURRENT "
    "per-list ranges, all-zero codes + out-of-band flag for lists the "
    "index never saw).  Each micro-batch writes a batch_id-keyed "
    "delta-codes segment fragment (the artifact the segmented probe "
    "reads between folds; the background fold compacts fragments into "
    "index v2) and a bounded report fragment — both "
    "overwrite-per-batch, so the rollup is exactly-once under "
    "at-least-once replay.  Per-vector codes depend only on (vector, "
    "static index), so the summed report equals the one-shot batch "
    "computation bit-for-bit — which this oracle hash-checks (codes "
    "checksum per-row mod 1e9+7 before summing, the ANSI 2^63 rule).  "
    "n_oob is the live range-drift signal feeding the fold decision "
    "(ann_index_segment_lifecycle prices what it costs).",
    tags=("streaming", "llm", "similarity", "ivf", "pipeline"),
)
def streaming_ann_vector_ingest_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.events_stream import streaming_ann_vector_ingest

    return streaming_ann_vector_ingest(spark, sf_dir)
