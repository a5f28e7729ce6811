"""Training-data-pipeline queries: deterministic sampling / splits,
arbitrary time-bucket rollups, native session windows, quality gates,
near-dup group resolution.

All registered ``extended=True``: the driver's CORRECTNESS window is
full at 50 entries (see registry.py), so these are oracle-checked by
the pytest parity suite (tests/test_oracle_parity.py) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, exact_sum_sql
from ..operators import text as T
from ..operators.dedup import (
    dedup_components,
    dedup_components_sql,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_sql,
)
from ..operators.sample import (
    HASH_BUCKETS,
    hash_bucket_sql,
    stratified_hash_sample,
    train_test_split,
)
from ..schemas import load_table
from ..session import local_frame
from .registry import QuerySpec, register


# --- deterministic train/test split ------------------------------------------

_TEST_FRACTION = 0.1


def _split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = train_test_split(ev, key="event_id",
                             test_fraction=_TEST_FRACTION)
    return split.groupBy("split", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("sum_value"),
    )


register(QuerySpec(
    name="hash_split_counts",
    spark_fn=_split_counts,
    oracle=f"""
        SELECT CASE WHEN {hash_bucket_sql("event_id", salt="split")}
                    < {int(_TEST_FRACTION * HASH_BUCKETS)}
               THEN 'test' ELSE 'train' END AS split,
               event_type,
               COUNT(*) AS n_events,
               {exact_sum_sql('value')} AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    covers=("hash-split", "deterministic-sampling"),
    extended=True,
))


# --- stratified deterministic sampling ---------------------------------------

_STRATA_FRACTIONS = {"click": 0.5, "view": 0.2, "error": 1.0}
_STRATA_DEFAULT = 0.05


def _stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sampled = stratified_hash_sample(
        ev, key="event_id", strata_col="event_type",
        fractions=_STRATA_FRACTIONS, default_fraction=_STRATA_DEFAULT,
    )
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )


def _strata_cutoff_sql() -> str:
    branches = " ".join(
        f"WHEN event_type = '{v}' THEN {int(f * HASH_BUCKETS)}"
        for v, f in _STRATA_FRACTIONS.items()
    )
    return f"CASE {branches} ELSE {int(_STRATA_DEFAULT * HASH_BUCKETS)} END"


register(QuerySpec(
    name="stratified_sample_counts",
    spark_fn=_stratified_counts,
    oracle=f"""
        SELECT event_type, COUNT(*) AS n_sampled
        FROM events
        WHERE {hash_bucket_sql("event_id")} < {_strata_cutoff_sql()}
        GROUP BY event_type
    """,
    covers=("stratified-sampling",),
    extended=True,
))


# --- arbitrary-interval time-bucket rollup (hypertable-style) ----------------

_BUCKET_SECONDS = 6 * 3600


def _time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # floor-to-interval on the epoch: portable, origin-explicit, and a
    # pure projection (unlike window(), whose struct output is the
    # same arithmetic with extra baggage). The rollup then shuffles on
    # ~|buckets| keys only.
    ev = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / _BUCKET_SECONDS).cast("long")
        * _BUCKET_SECONDS
    )
    return (
        ev.groupBy(bucket.alias("bucket_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
    )


register(QuerySpec(
    name="time_bucket_rollup",
    spark_fn=_time_bucket,
    oracle=f"""
        SELECT make_timestamp(CAST(floor(epoch(ts) / {_BUCKET_SECONDS})
                   AS BIGINT) * {_BUCKET_SECONDS} * 1000000)
                   AS bucket_start,
               event_type,
               COUNT(*) AS n_events,
               {exact_sum_sql('value')} AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    covers=("time-bucket", "hypertable-rollup"),
    extended=True,
))


# --- hopping (sliding) windows -----------------------------------------------

_HOP_SIZE, _HOP_SLIDE = 3600, 900  # 1h windows every 15min


def _hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F.window with a slide: each event replicates into
    # size/slide windows inside the aggregation (streaming-valid too).
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (
        ev.groupBy(
            F.window("ts", f"{_HOP_SIZE} seconds",
                     f"{_HOP_SLIDE} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


register(QuerySpec(
    name="hopping_window_rollup",
    spark_fn=_hopping_windows,
    oracle=f"""
        SELECT make_timestamp(start_e * 1000000) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               {exact_sum_sql('value')} AS sum_value
        FROM (
            SELECT event_type, value,
                   (CAST(floor(epoch(ts) / {_HOP_SLIDE}) AS BIGINT) - k)
                       * {_HOP_SLIDE} AS start_e
            FROM events
            CROSS JOIN (SELECT unnest(range(0,
                {_HOP_SIZE // _HOP_SLIDE})) AS k)
            WHERE user_id < 50
        )
        GROUP BY 1, 2
    """,
    covers=("hopping-window", "sliding-window"),
    extended=True,
))


# --- native session windows (batch form of the streaming operator) -----------

_SESSION_GAP = "30 minutes"


def _session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's built-in session_window: merging event-time sessions
    # inside the aggregation operator itself (also valid under
    # readStream + watermark). Same gap semantics the lag+cumsum
    # sessionize_users proves; here the session END (last event + gap)
    # is part of the contract.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", _SESSION_GAP))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


register(QuerySpec(
    name="session_window_rollup",
    spark_fn=_session_windows,
    oracle=f"""
        WITH gaps AS (
            SELECT user_id, ts, value,
                   epoch(ts) - epoch(LAG(ts) OVER
                       (PARTITION BY user_id ORDER BY ts)) AS gap
            FROM events
        ), tagged AS (
            SELECT user_id, ts, value,
                   SUM(CASE WHEN gap IS NULL OR gap > 1800
                       THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
            FROM gaps
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               {exact_sum_sql('value')} AS total_value
        FROM tagged
        GROUP BY user_id, session_id
    """,
    covers=("session-window-native",),
    extended=True,
))


# --- Gopher-style quality gates ----------------------------------------------

def _quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("lang", T.quality_flags("text").alias("q"))
    flag_names = ["words_ok", "word_len_ok", "symbol_ok", "alpha_ok",
                  "stopword_ok", "quality_pass"]
    return q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(f"q.{f}").alias(f"n_{f}") for f in flag_names],
    )


def _quality_oracle() -> str:
    flags = T.quality_flags_sql("text")
    per_doc = ",\n                   ".join(
        f"{expr} AS {name}" for name, expr in flags.items()
    )
    sums = ",\n               ".join(
        f"CAST(SUM({name}) AS BIGINT) AS n_{name}" for name in flags
    )
    return f"""
        WITH per_doc AS (
            SELECT lang,
                   {per_doc}
            FROM documents
        )
        SELECT lang, COUNT(*) AS n_docs,
               {sums}
        FROM per_doc
        GROUP BY lang
    """


register(QuerySpec(
    name="quality_filter_stats",
    spark_fn=_quality_stats,
    oracle=_quality_oracle(),
    covers=("quality-gates", "gopher-filters"),
    extended=True,
))


# --- time-series gap fill + LOCF + linear interpolation ----------------------

_GF_STEP = 3600  # hourly


def _gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import exact_avg
    from ..operators.timeseries import fill_gaps, time_bucket

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    obs = (
        ev.groupBy(
            "user_id",
            time_bucket("ts", _GF_STEP).alias("bucket_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_avg("value").alias("val"),
        )
    )
    return fill_gaps(
        obs, ["user_id"], "bucket_start", "val",
        count_col="n_events", step_seconds=_GF_STEP,
    )


def _gap_filled_oracle() -> str:
    from ..functions.exact import exact_avg_sql
    from ..operators.timeseries import fill_gaps_sql

    obs = f"""SELECT user_id,
                   make_timestamp(CAST(floor(epoch(ts) / {_GF_STEP})
                       AS BIGINT) * {_GF_STEP} * 1000000) AS bucket_start,
                   COUNT(*) AS n_events,
                   CAST({exact_avg_sql('value')} AS DOUBLE) AS val
            FROM events WHERE user_id < 10
            GROUP BY 1, 2"""
    return fill_gaps_sql(
        obs, ["user_id"], "bucket_start", "val",
        count_col="n_events", step_seconds=_GF_STEP,
    )


register(QuerySpec(
    name="gap_filled_hourly",
    spark_fn=_gap_filled,
    oracle=_gap_filled_oracle(),
    covers=("gap-fill", "locf", "interpolate", "timeseries"),
    extended=True,
))


# --- watermarked stream-stream interval join ---------------------------------

def _stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join: two streams derived from the events
    file source, watermarked on both sides, joined per user with
    purchase.ts in [error.ts - 30 min, error.ts]. AvailableNow drains
    one microbatch into a memory sink; the result is hash-compared to
    the batch interval-join oracle (streaming join correctness, not
    just plumbing)."""
    import tempfile
    import uuid

    from ..streaming.windows import (
        interval_join,
        read_sf_events_stream,
        run_available_now,
    )

    stream = read_sf_events_stream(spark, sf_dir)
    errors = stream.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("error_ts"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    # interval_join expects one shared key name; rename both to user_id
    purchases = purchases.withColumnRenamed("p_user_id", "user_id")
    joined = interval_join(
        errors, purchases, on="user_id",
        left_ts="error_ts", right_ts="purchase_ts",
        lower_seconds=1800, upper_seconds=0,
    ).select(errors["user_id"], "error_event_id", "purchase_event_id")
    name = f"stream_ij_{uuid.uuid4().hex[:8]}"
    run_available_now(
        joined, tempfile.mkdtemp(prefix="ckpt_ij_"),
        output_mode="append", query_name=name,
    )
    return spark.sql(f"SELECT * FROM {name}")


register(QuerySpec(
    name="streaming_interval_join",
    spark_fn=_stream_interval_join,
    oracle="""
        SELECT e.user_id,
               e.event_id AS error_event_id,
               p.event_id AS purchase_event_id
        FROM events e
        JOIN events p
          ON e.user_id = p.user_id
         AND p.ts >= e.ts - INTERVAL 30 MINUTE
         AND p.ts <= e.ts
        WHERE e.event_type = 'error'
          AND p.event_type = 'purchase'
    """,
    covers=("stream-stream-join", "interval-join", "watermark"),
    extended=True,
))


# --- the composed curation pipeline (flagship #2) ----------------------------

def _curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation audit trail: quality gates -> PII scrub ->
    exact dedup -> near-dup component dedup -> split -> chunk, with
    per-stage row counts hash-checked against ONE composed oracle
    (plans/curation.py)."""
    from .curation import curate

    docs = load_table(spark, sf_dir, "documents")
    return curate(docs).stats


def _curation_oracle() -> str:
    from .curation import curation_stats_sql

    return curation_stats_sql()


register(QuerySpec(
    name="curation_pipeline_stats",
    spark_fn=_curation_stats,
    oracle=_curation_oracle,  # lazy: composed SQL built on access
    covers=("curation-e2e", "pipeline-compose"),
    # flagship #2 gets a tracked wall-time alongside the weather
    # pipeline (round-2 verdict #8)
    audit=True,
    extended=True,
))


# --- PII redaction -----------------------------------------------------------

def _pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-training privacy scrub. The synthetic corpus carries no
    PII, so deterministic fake PII is injected first (doc_id % 7 -> an
    email, % 11 -> an IP) -- identically in the oracle -- and the
    redacted text is md5-hashed so the scrub itself is value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"),
                 F.lit(" contact bob"), F.col("doc_id").cast("string"),
                 F.lit("@example.com")),
    ).when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.lit(" from 10.0.0."),
                 (F.col("doc_id") % 256).cast("string")),
    ).otherwise(F.col("text"))
    red = T.redact_pii(injected)
    return docs.select(
        "doc_id",
        F.md5(red).alias("redacted_md5"),
        (red != injected).cast("int").alias("was_redacted"),
    )


register(QuerySpec(
    name="pii_redaction",
    spark_fn=_pii_redaction,
    oracle=f"""
        WITH injected AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN
                            text || ' contact bob' || CAST(doc_id AS VARCHAR)
                                 || '@example.com'
                        WHEN doc_id % 11 = 0 THEN
                            text || ' from 10.0.0.'
                                 || CAST(doc_id % 256 AS VARCHAR)
                        ELSE text END AS t
            FROM documents
        )
        SELECT doc_id,
               md5({T.redact_pii_sql('t')}) AS redacted_md5,
               CAST(({T.redact_pii_sql('t')} != t) AS INTEGER)
                   AS was_redacted
        FROM injected
    """,
    covers=("pii-redaction", "text-scrub"),
    extended=True,
))


# --- sketch tier: approx-percentile rank bound -------------------------------

def _approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches have engine-specific internals, so (like the HLL
    check) the hashable contract is the ERROR BOUND: the rank of the
    approx p50 must sit within +-1% of the true median rank. The
    oracle computes the exact counts and asserts the flag."""
    ev = load_table(spark, sf_dir, "events")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("ap50"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        ev.join(ap, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(
                (F.col("value") <= F.col("ap50")).cast("long")
            ).alias("rank_le")
        )
    )
    ok = (F.col("rank_le") >= F.col("n") * 0.49) & (
        F.col("rank_le") <= F.col("n") * 0.51 + 1
    )
    return ranked.select(
        "event_type", "n", ok.cast("int").alias("rank_within_bound")
    )


register(QuerySpec(
    name="approx_percentile_bound",
    spark_fn=_approx_percentile_bound,
    oracle="""
        SELECT event_type, COUNT(*) AS n, 1 AS rank_within_bound
        FROM events
        GROUP BY event_type
    """,
    covers=("approx-percentile", "sketch-bound"),
    extended=True,
))


# --- sketch tier: Bloom-filter membership ------------------------------------

_BLOOM_M_BITS = 1 << 17  # 128 Ki bits: ~16x the buyer count at sf0.1
_BLOOM_K = 8


def _bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom filter (operators/bloom.py) over purchasing
    users, probed by every user. Bitmap words are engine-specific
    state, so the hashable contract is the GUARANTEE: zero false
    negatives (members always hit -- exact, by construction) and a
    false-positive rate under the configured bound."""
    from ..operators.bloom import build_bloom, probe_bloom

    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    bloom = build_bloom(buyers, "user_id", _BLOOM_M_BITS, _BLOOM_K)
    users = ev.select("user_id").distinct()
    probed = probe_bloom(bloom, users, "user_id", _BLOOM_M_BITS, _BLOOM_K)
    is_buyer = buyers.distinct().withColumn("is_buyer", F.lit(1))
    flagged = probed.join(is_buyer, "user_id", "left").na.fill(
        {"is_buyer": 0}
    )
    return flagged.agg(
        F.sum("is_buyer").cast("long").alias("n_members"),
        F.sum(
            (F.col("is_buyer") == 1).cast("int")
            * (~F.col("bloom_hit")).cast("int")
        ).cast("long").alias("n_false_negatives"),
        (
            F.sum(
                (F.col("is_buyer") == 0).cast("int")
                * F.col("bloom_hit").cast("int")
            )
            <= F.greatest(
                F.sum((F.col("is_buyer") == 0).cast("int")) * 0.05,
                F.lit(2.0),
            )
        ).cast("int").alias("fp_rate_ok"),
    )


register(QuerySpec(
    name="bloom_filter_membership",
    spark_fn=_bloom_membership,
    oracle="""
        SELECT COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                   THEN user_id END) AS n_members,
               CAST(0 AS BIGINT) AS n_false_negatives,
               1 AS fp_rate_ok
        FROM events
    """,
    covers=("bloom-filter", "sketch-bound"),
    extended=True,
))


# --- TF-IDF top terms (classic corpus statistic, pure DataFrame ops) ---------

_TFIDF_K = 3


def _tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # corpus size for the idf formula, folded into the LAZY plan as a
    # broadcast scalar (the impute_median pattern, operators/clean.py):
    # one job end-to-end, no synchronous driver-side count
    n_docs = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    tf = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    scored = tf.join(df_counts, "token").crossJoin(
        F.broadcast(n_docs)
    ).select(
        "doc_id",
        "token",
        (F.round(F.col("tf") * idf * 1e6) / 1e6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "token", "tfidf", "rk")
    )


def _tfidf_oracle() -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(text, ' +')) AS token
                FROM documents
            ) GROUP BY doc_id, token
        ), dfs AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf
            GROUP BY token
        ), n AS (
            SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, token,
                   ROUND(tf * ln((CAST((SELECT n_docs FROM n) AS DOUBLE)
                       + 1.0) / (df + 1.0))
                       * CAST(1000000 AS DOUBLE))
                       / CAST(1000000 AS DOUBLE) AS tfidf
            FROM tf JOIN dfs USING (token)
        )
        SELECT doc_id, token, tfidf, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, token ASC) AS rk
            FROM scored
        ) WHERE rk <= {_TFIDF_K}
    """


register(QuerySpec(
    name="tfidf_top_terms",
    spark_fn=_tfidf,
    oracle=_tfidf_oracle(),
    covers=("tf-idf", "corpus-stats"),
    extended=True,
))


# --- benchmark decontamination ------------------------------------------------
#
# The driver tables carry no separate benchmark corpus, so one is
# derived deterministically: docs with doc_id % 97 == 0 stand in for
# the eval set (same rule in the oracle). Real usage points the
# benchmark parameter at the actual eval tables.

_DECON_N = 5
_DECON_PRED = "doc_id % 97 = 0"


def _decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import contamination_flags

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_flags(docs, bench, "text", "doc_id", n=_DECON_N)


def _decontamination_oracle() -> str:
    from ..operators.corpus import contamination_flags_sql

    return contamination_flags_sql(
        "documents", _DECON_PRED, "text", "doc_id", n=_DECON_N
    )


register(QuerySpec(
    name="benchmark_decontamination",
    spark_fn=_decontamination,
    oracle=_decontamination_oracle,
    covers=("decontamination", "benchmark-overlap"),
    audit=True,
    extended=True,
))


# --- sequence packing (concat-and-cut bins for training) ----------------------

_PACK_CAPACITY, _PACK_SHARDS = 100, 8


def _pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE chunk stream of the packing family: packed_bins packs it,
    packing_waste_audit audits it -- one provider so the audit can
    never silently unlink from the relation it claims to audit."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(T.token_chunks("text", 50, 40)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size(F.split("c.chunk", " ")).alias("n_tokens"),
    )


def _pack_chunks_sql() -> str:
    """DuckDB twin of :func:`_pack_chunks` (same chunk stream)."""
    return f"""
        SELECT doc_id,
               c.chunk_id AS chunk_id,
               CAST(len(string_split(c.chunk, ' ')) AS INTEGER)
                   AS n_tokens
        FROM (
            SELECT doc_id,
                   unnest({T.token_chunks_sql('text', 50, 40)}) AS c
            FROM documents
        )"""


def _packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import pack_sequences

    return pack_sequences(
        _pack_chunks(spark, sf_dir),
        capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS,
    )


def _packed_bins_oracle() -> str:
    from ..operators.corpus import pack_sequences_sql

    return pack_sequences_sql(
        _pack_chunks_sql(), capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
    )


register(QuerySpec(
    name="packed_bins",
    spark_fn=_packed_bins,
    oracle=_packed_bins_oracle,
    covers=("sequence-packing", "training-bins"),
    audit=True,
    extended=True,
))


# --- unigram log-probability quality score ------------------------------------

def _logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id")


def _logprob_oracle() -> str:
    from ..operators.corpus import unigram_logprob_sql

    return unigram_logprob_sql("documents", "text", "doc_id")


register(QuerySpec(
    name="doc_logprob_score",
    spark_fn=_logprob,
    oracle=_logprob_oracle,
    covers=("lm-quality-score", "unigram-logprob"),
    audit=True,
    extended=True,
))


# --- intra-doc repetition stats (Gopher repetition gate) ----------------------

def _repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id")


def _repetition_oracle() -> str:
    from ..operators.corpus import repetition_stats_sql

    return repetition_stats_sql("documents", "text", "doc_id")


register(QuerySpec(
    name="doc_repetition_stats",
    spark_fn=_repetition,
    oracle=_repetition_oracle,
    covers=("repetition-gate", "dup-ngram-fraction"),
    extended=True,
))


# --- near-dup GROUP resolution (connected components over pairs) -------------

_CC_N, _CC_T = 3, 0.2


def _dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                n=_CC_N, threshold=_CC_T)
    return dedup_components(pairs)


register(QuerySpec(
    name="dedup_connected_groups",
    spark_fn=_dedup_groups,
    oracle=dedup_components_sql(
        ngram_jaccard_pairs_sql("documents", "text", "doc_id",
                                _CC_N, _CC_T)
    ),
    covers=("dedup-groups", "connected-components"),
    extended=True,
))


# --- quality-aware canonical selection per near-dup cluster -------------------
#
# The resolution policy AFTER grouping: keep each cluster's
# highest-quality member (here: token count, tie -> min doc_id), not
# its min-id member -- min-id can keep a truncated clone and drop the
# full document. Per-cluster output attests the argmax semantics
# row-for-row; the survivor-frame operator (canonical_survivors,
# operators/dedup.py) is unit-tested on the same policy.


def _dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    )
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                n=_CC_N, threshold=_CC_T)
    comp = dedup_components(pairs)
    joined = comp.join(
        scored, comp["id"] == scored["doc_id"]
    ).select("id", "component", "n_tokens")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), F.asc("id")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.max(F.when(F.col("rk") == 1, F.col("id")))
            .cast("long").alias("kept_doc_id"),
            F.max(F.when(F.col("rk") == 1, F.col("n_tokens")))
            .cast("long").alias("kept_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("rk") > 1, F.col("n_tokens"))),
                F.lit(0),
            ).cast("long").alias("removed_tokens"),
        )
        .orderBy("component")
    )


def _dedup_canonical_oracle() -> str:
    from ..operators.dedup import dedup_components_ctes

    pairs = ngram_jaccard_pairs_sql(
        "documents", "text", "doc_id", _CC_N, _CC_T
    )
    return f"""
        WITH RECURSIVE {dedup_components_ctes(pairs)},
        scored AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(text, ' +'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ), ranked AS (
            SELECT c.id, c.component, s.n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY c.component
                       ORDER BY s.n_tokens DESC, c.id ASC) AS rk
            FROM components c JOIN scored s ON s.doc_id = c.id
        )
        SELECT component,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(MAX(CASE WHEN rk = 1 THEN id END) AS BIGINT)
                   AS kept_doc_id,
               CAST(MAX(CASE WHEN rk = 1 THEN n_tokens END) AS BIGINT)
                   AS kept_tokens,
               CAST(COALESCE(SUM(CASE WHEN rk > 1 THEN n_tokens END),
                             0) AS BIGINT) AS removed_tokens
        FROM ranked
        GROUP BY component
        ORDER BY component
    """


register(QuerySpec(
    name="dedup_canonical_keep_best",
    spark_fn=_dedup_canonical,
    oracle=_dedup_canonical_oracle,
    covers=("dedup-resolution", "quality-aware-survivorship"),
    audit=True,  # the dedup pipeline ending a user runs hourly
    extended=True,  # round-8 rotation (registry.py)
))


# --- boilerplate line removal (CCNet/RefinedWeb pass) -------------------------
#
# The synthetic corpus has no newlines, so the query materializes a
# lined view first: every 3-token chunk becomes one line (deterministic
# in both engines via the shared token_chunks builders). With the
# 30-word generator vocabulary, 3-token lines collide across docs
# naturally -- plus every planted near-dup clone repeats its source's
# lines verbatim -- so the operator has real boilerplate to strip.

_BP_LINE_TOKENS = 3
_BP_MIN_DOCS = 2


def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                T.token_chunks("text", _BP_LINE_TOKENS, _BP_LINE_TOKENS),
                lambda c: c["chunk"],
            ),
            "\n",
        ).alias("text"),
    )


def _boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import remove_boilerplate_lines

    return remove_boilerplate_lines(
        _lined_docs(spark, sf_dir), "text", "doc_id",
        min_docs=_BP_MIN_DOCS,
    )


def _boilerplate_oracle() -> str:
    from ..operators.corpus import remove_boilerplate_lines_sql

    chunks = T.token_chunks_sql("text", _BP_LINE_TOKENS, _BP_LINE_TOKENS)
    docs_sql = (
        "SELECT doc_id AS id, array_to_string(list_transform("
        f"{chunks}, c -> c.chunk), chr(10)) AS txt FROM documents"
    )
    return remove_boilerplate_lines_sql(docs_sql, min_docs=_BP_MIN_DOCS)


register(QuerySpec(
    name="boilerplate_line_removal",
    spark_fn=_boilerplate,
    oracle=_boilerplate_oracle,
    covers=("boilerplate-removal", "line-dedup"),
    audit=True,
    extended=True,
))


# --- per-source document cap (domain balancing) -------------------------------

_CAP_PER_SOURCE = 15


def _source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import cap_per_key

    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_key(docs, "source", "doc_id", cap=_CAP_PER_SOURCE)
    return capped.select("doc_id", "source")


def _source_cap_oracle() -> str:
    from ..operators.sample import cap_per_key_sql

    return cap_per_key_sql(
        "SELECT * FROM documents", "source", "doc_id",
        cap=_CAP_PER_SOURCE, select="doc_id, source",
    )


register(QuerySpec(
    name="per_source_document_cap",
    spark_fn=_source_cap,
    oracle=_source_cap_oracle,
    covers=("domain-balancing", "per-key-cap"),
    extended=True,
))


# --- DSIR-style importance resampling ----------------------------------------

def _importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import importance_logratio

    docs = load_table(spark, sf_dir, "documents")
    return importance_logratio(docs, F.col("lang") == "en")


register(QuerySpec(
    name="importance_resample_dsir",
    spark_fn=_importance,
    oracle=lambda: __import__(
        "etl_on_weather_dataset_spark.operators.corpus",
        fromlist=["importance_logratio_sql"],
    ).importance_logratio_sql("documents", "lang = 'en'"),
    covers=("importance-resampling", "dsir"),
    audit=True,
    extended=True,
))


# --- corpus mixing to a token budget (Pile/Dolma-style proportions) -----------

_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2,
                "src3": 0.15, "src4": 0.15}
_MIX_BUDGET = 2_000  # tokens -- below availability at sf>=0.01, so
#                      real downsampling happens (capped at 1 below)


def _mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import mix_corpus

    docs = load_table(spark, sf_dir, "documents")
    kept = mix_corpus(docs, _MIX_WEIGHTS, _MIX_BUDGET)
    return kept.select(
        "doc_id", "source",
        F.round(F.col("mix_keep_frac"), 6).alias("keep_frac"),
    )


def _mix_oracle() -> str:
    from ..operators.sample import mix_corpus_sql

    return mix_corpus_sql(
        "documents", _MIX_WEIGHTS, _MIX_BUDGET,
        select="doc_id, source, ROUND(mix_keep_frac, 6) AS keep_frac",
    )


register(QuerySpec(
    name="corpus_mixture_sample",
    spark_fn=_mix,
    oracle=_mix_oracle,
    covers=("corpus-mixing", "mixture-weights"),
    extended=True,
))


# --- count-min sketch: token frequencies + heavy hitters ----------------------
#
# Width 16 is deliberately SMALLER than the corpus vocabulary so
# collisions actually happen and the attested table shows real
# overestimates -- with the one-sided guarantee (est >= true, so
# overestimate >= 0 on every row and the heavy-hitter flag can only
# over-fire, never miss) holding exactly. The oracle rebuilds the
# identical sketch from the shared md5-bucket hash, so every estimate
# is value-checked, not bounded.

_CMS_W, _CMS_D = 16, 4
_CMS_HH_FRAC = 0.05  # heavy hitter: >= 5% of all tokens


def _cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import build_count_min, cms_estimates
    from ..operators.caching import persisted

    docs = load_table(spark, sf_dir, "documents")
    toks = persisted(
        docs.select(F.explode(T.tokens("text")).alias("token"))
    )
    sketch = build_count_min(toks, "token", width=_CMS_W, depth=_CMS_D)
    exact = persisted(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_n"))
    )
    est = cms_estimates(
        sketch, exact.select("token"), "token",
        width=_CMS_W, depth=_CMS_D,
    )
    total = toks.agg(F.count(F.lit(1)).alias("total_n"))
    return (
        exact.join(est, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "true_n",
            F.col("est").alias("est_n"),
            (F.col("est") - F.col("true_n")).alias("overestimate"),
            (F.col("true_n") >= _CMS_HH_FRAC * F.col("total_n")).alias(
                "hh_true"
            ),
            (F.col("est") >= _CMS_HH_FRAC * F.col("total_n")).alias(
                "hh_est"
            ),
        )
    )


def _cms_oracle() -> str:
    from ..operators.bloom import cms_estimates_sql, cms_sql

    cms = cms_sql("SELECT k FROM toks", "k", _CMS_W, _CMS_D)
    est = cms_estimates_sql(
        "SELECT DISTINCT k FROM toks", "k", _CMS_W, _CMS_D
    )
    return f"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(text, ' +')) AS k
            FROM documents
        ),
        {cms},
        {est},
        exact AS (
            SELECT k, COUNT(*) AS true_n FROM toks GROUP BY k
        ),
        total AS (SELECT COUNT(*) AS total_n FROM toks)
        SELECT x.k AS token,
               x.true_n,
               e.est AS est_n,
               e.est - x.true_n AS overestimate,
               x.true_n >= {_CMS_HH_FRAC} * t.total_n AS hh_true,
               e.est >= {_CMS_HH_FRAC} * t.total_n AS hh_est
        FROM exact x JOIN est e USING (k) CROSS JOIN total t
    """


register(QuerySpec(
    name="cms_token_frequencies",
    spark_fn=_cms_tokens,
    oracle=_cms_oracle,
    covers=("count-min-sketch", "heavy-hitters"),
    extended=True,
))


# --- weighted sampling (Efraimidis-Spirakis, deterministic) -------------------

_WS_N = 100


def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", _WS_N, "doc_id").select(
        "doc_id", "source", "n_chars", "es_key"
    )


def _weighted_sample_oracle() -> str:
    from ..operators.sample import weighted_sample_sql

    return weighted_sample_sql(
        "SELECT * FROM documents", "n_chars", _WS_N, "doc_id",
        select="doc_id, source, n_chars",
    )


register(QuerySpec(
    name="weighted_sample_docs",
    spark_fn=_weighted_sample,
    oracle=_weighted_sample_oracle,
    covers=("weighted-sampling", "efraimidis-spirakis"),
    extended=True,
))


# --- DSIR selection = importance scores as sampling weights -------------------
#
# The actual DSIR procedure (Xie et al. 2023): score docs by the
# target/background log-ratio, then SAMPLE with probability
# proportional to the importance weight exp(score) -- not a hard
# threshold. Composes importance_logratio with the ES weighted
# sampler; both stages are individually attested, and this pins the
# composition.

_DSIR_N = 100


def _dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import importance_logratio
    from ..operators.sample import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    scored = importance_logratio(docs, F.col("lang") == "en")
    weighted = scored.select(
        "id", "avg_logratio_micro",
        F.exp(F.col("avg_logratio_micro") / 1e6).alias("w"),
    )
    return weighted_sample(weighted, "w", _DSIR_N, "id").select(
        "id", "avg_logratio_micro", "es_key"
    )


def _dsir_selection_oracle() -> str:
    from ..operators.corpus import importance_logratio_sql
    from ..operators.sample import weighted_sample_sql

    scored = importance_logratio_sql("documents", "lang = 'en'")
    weighted = (
        f"SELECT id, avg_logratio_micro, "
        f"exp(avg_logratio_micro / 1000000.0) AS w FROM ({scored})"
    )
    return weighted_sample_sql(
        weighted, "w", _DSIR_N, "id",
        select="id, avg_logratio_micro",
    )


register(QuerySpec(
    name="dsir_weighted_selection",
    spark_fn=_dsir_selection,
    oracle=_dsir_selection_oracle,
    covers=("dsir-selection", "importance-weighted-sampling"),
    extended=True,
))


# --- exact-substring span dedup (Lee et al. ExactSubstr shape) ---------------
#
# Tier 5 of the dedup family: verbatim repeated token windows mark
# duplicated SPANS inside documents (not whole-doc near-dups). The
# stats query attests the measurement; the removal query attests the
# destructive rebuild. Reference has no counterpart (north-star
# par.2b training-data surface).

_SPAN_W, _SPAN_MIN = 6, 2


def _span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, "text", "doc_id",
                                 window=_SPAN_W, min_count=_SPAN_MIN)


def _span_stats_oracle() -> str:
    from ..operators.dedup import duplicated_span_stats_sql

    return duplicated_span_stats_sql("documents", "text", "doc_id",
                                     window=_SPAN_W, min_count=_SPAN_MIN)


register(QuerySpec(
    name="dup_span_stats",
    spark_fn=_span_stats,
    oracle=_span_stats_oracle,
    covers=("exact-substring-dedup", "dup-span-measurement"),
    audit=True,
    extended=True,
))


def _span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, "text", "doc_id",
                                   window=_SPAN_W, min_count=_SPAN_MIN)


def _span_removal_oracle() -> str:
    from ..operators.dedup import remove_duplicated_spans_sql

    return remove_duplicated_spans_sql("documents", "text", "doc_id",
                                       window=_SPAN_W, min_count=_SPAN_MIN)


register(QuerySpec(
    name="dup_span_removal",
    spark_fn=_span_removal,
    oracle=_span_removal_oracle,
    covers=("exact-substring-dedup", "span-removal-rebuild"),
    extended=True,
))


# --- bigram-conditional LM quality score -------------------------------------

def _bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, "text", "doc_id")


def _bigram_logprob_oracle() -> str:
    from ..operators.corpus import bigram_logprob_sql

    return bigram_logprob_sql("documents", "text", "doc_id")


register(QuerySpec(
    name="doc_bigram_logprob",
    spark_fn=_bigram_logprob,
    oracle=_bigram_logprob_oracle,
    covers=("lm-quality-score", "bigram-logprob"),
    extended=True,
))


# --- per-source distribution drift (KL vs corpus) -----------------------------

def _source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import source_unigram_drift

    docs = load_table(spark, sf_dir, "documents")
    return source_unigram_drift(docs, "text", "source").orderBy("source")


def _source_drift_oracle() -> str:
    from ..operators.corpus import source_unigram_drift_sql

    return (
        source_unigram_drift_sql("documents", "text", "source")
        + " ORDER BY source"
    )


register(QuerySpec(
    name="source_drift_kl",
    spark_fn=_source_drift,
    oracle=_source_drift_oracle,
    covers=("distribution-drift", "kl-divergence", "slice-monitoring"),
    audit=True,
    extended=True,
))


# --- incremental materialized rollup (operators/rollup_store.py) --------------
#
# Scenario contract (same style as dedup_incremental_exact): three
# deterministic batches of `events` (event_id % 3), folded into a
# per-invocation temp store in order b0, b1, b1-REPLAYED, b2. The
# replay must be a no-op (exactly-once semantics on at-least-once
# delivery), so the final store must equal the one-shot aggregate over
# ALL events -- which is precisely what the DuckDB twin computes.
# Store paths are driver-local tempdirs for the attestation harness
# only; real callers pass shared-FS locations.

def _incremental_rollup_scenario(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.rollup_store import incremental_rollup

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.to_date("ts").alias("day"), "value"
    )
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="spark_incr_rollup_")
    try:
        store = f"{tmp}/rollup"
        for bid, b in [("b0", batches[0]), ("b1", batches[1]),
                       ("b1", batches[1]),  # replay: must not double
                       ("b2", batches[2])]:
            final = incremental_rollup(
                spark, b, store, bid,
                key_cols=("event_type", "day"), value_col="value",
            )
        # eager localCheckpoint: materialize executor-side before the
        # tempdir dies -- no driver round-trip of result rows
        final = final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        final
        .select(
            "event_type", "day", "n_rows",
            (F.col("sum_c") / 100.0).alias("sum_value"),
            "sum2_c",
        )
        .orderBy("event_type", "day")
    )


register(QuerySpec(
    name="rollup_incremental_daily",
    spark_fn=_incremental_rollup_scenario,
    oracle="""
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               COUNT(*) AS n_rows,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
                   AS sum_value,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                        * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum2_c
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
        ORDER BY event_type, day
    """,
    covers=("incremental-rollup", "materialized-view-maintenance",
            "exactly-once-merge"),
    extended=True,
))


# --- BPE merge-rule learning (operators/corpus.py) ----------------------------
#
# The oracle unrolls the training loop: each round counts adjacent
# pairs (lateral range unnest) and rewrites the corpus by replacing
# the winning pair. The rewrite wraps every token as |tok| and
# replaces ' |a|  |b| ' with ' |ab| ': tokens are joined with TWO
# spaces and each pattern consumes one boundary space on each side, so
# back-to-back occurrences ([x,y,x,y]) each keep a separator of their
# own and both merge -- exactly the greedy leftmost-nonoverlapping
# fold the Spark operator runs ([a,a,a] -> [aa,a], [x,y,x,y] ->
# [xy,xy]).

_BPE_ROUNDS = 3


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges, _seqs = learn_bpe_merges(docs, "text", n_merges=_BPE_ROUNDS)
    return local_frame(
        spark, [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "step int, a string, b string",
    ).orderBy("step")


def _bpe_oracle() -> str:
    rounds = []
    prev = "s0"
    sel_parts = []
    for r in range(1, _BPE_ROUNDS + 1):
        rounds.append(f"""
        p{r} AS (
            SELECT t[i] AS a, t[i + 1] AS b, COUNT(*) AS n
            FROM {prev}, unnest(range(1, len(t))) AS u(i)
            GROUP BY t[i], t[i + 1]
        ),
        m{r} AS (
            -- min_count gate: learn_bpe_merges stops when the best
            -- pair count < 2; an empty m{r} makes s{r} pass through
            SELECT a, b FROM p{r} WHERE n >= 2
            ORDER BY n DESC, a, b LIMIT 1
        )""")
        if r < _BPE_ROUNDS:
            rounds.append(f"""
        s{r} AS (
            SELECT list_transform(
                regexp_split_to_array(trim(replace(
                    ' ' || array_to_string(
                        list_transform(t, x -> '|' || x || '|'), '  ')
                        || ' ',
                    COALESCE((SELECT ' |' || a || '|  |' || b
                              || '| ' FROM m{r}), chr(1)),
                    COALESCE((SELECT ' |' || a || b || '| '
                              FROM m{r}), chr(1)))),
                    ' +'),
                x -> trim(x, '|')) AS t
            FROM {prev}
        )""")
            prev = f"s{r}"
        sel_parts.append(
            f"SELECT {r} AS step, a, b FROM m{r}"
        )
    return f"""
        WITH s0 AS (
            -- mirror learn_bpe_merges' seed filter (t != ''): edge
            -- whitespace otherwise leaves '' tokens only in the oracle
            SELECT list_filter(regexp_split_to_array(text, ' +'),
                               x -> x <> '') AS t
            FROM documents
        ),{",".join(rounds)}
        SELECT * FROM ({" UNION ALL ".join(sel_parts)}) m
        ORDER BY step
    """


register(QuerySpec(
    name="bpe_learned_merges",
    spark_fn=_bpe_merges,
    oracle=_bpe_oracle,
    covers=("bpe-training", "iterative-argmax"),
    extended=True,
))


# --- BPE end-to-end compression stats -----------------------------------------

def _bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn merges, re-apply them to the corpus, report the token
    compression: total tokens before/after and exact micro-ratio.
    (The re-application is how serving uses the rules; the stats pin
    the whole train->apply loop end-to-end, not just the rule list.)"""
    from ..operators.corpus import apply_bpe_merges, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = learn_bpe_merges(docs, "text", n_merges=_BPE_ROUNDS)
    applied = apply_bpe_merges(docs, merges, "text")
    before = F.size(F.filter(F.split(F.col("text"), " +"),
                             lambda t: t != ""))
    return applied.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(before).alias("tokens_before"),
        F.sum(F.size("bpe_tokens")).alias("tokens_after"),
        F.expr(
            "CAST(sum(size(bpe_tokens)) * 1000000"
            " div sum(size(filter(split(text, ' +'), t -> t != '')))"
            " AS BIGINT)"
        ).alias("ratio_micro"),
    )


def _bpe_compression_oracle() -> str:
    # same CTE chain as the learning oracle, but every round gets a
    # rewrite (the learning twin skips the last one) and the tail
    # aggregates the fully-merged corpus instead of listing rules
    rounds = []
    prev = "s0"
    for r in range(1, _BPE_ROUNDS + 1):
        rounds.append(f"""
        p{r} AS (
            SELECT t[i] AS a, t[i + 1] AS b, COUNT(*) AS n
            FROM {prev}, unnest(range(1, len(t))) AS u(i)
            GROUP BY t[i], t[i + 1]
        ),
        m{r} AS (
            -- min_count gate: learn_bpe_merges stops when the best
            -- pair count < 2; an empty m{r} makes s{r} pass through
            SELECT a, b FROM p{r} WHERE n >= 2
            ORDER BY n DESC, a, b LIMIT 1
        ),
        s{r} AS (
            SELECT list_transform(
                regexp_split_to_array(trim(replace(
                    ' ' || array_to_string(
                        list_transform(t, x -> '|' || x || '|'), '  ')
                        || ' ',
                    COALESCE((SELECT ' |' || a || '|  |' || b
                              || '| ' FROM m{r}), chr(1)),
                    COALESCE((SELECT ' |' || a || b || '| '
                              FROM m{r}), chr(1)))),
                    ' +'),
                x -> trim(x, '|')) AS t
            FROM {prev}
        )""")
        prev = f"s{r}"
    return f"""
        WITH s0 AS (
            -- mirror learn_bpe_merges' seed filter (t != ''): edge
            -- whitespace otherwise leaves '' tokens only in the oracle
            SELECT list_filter(regexp_split_to_array(text, ' +'),
                               x -> x <> '') AS t
            FROM documents
        ),{",".join(rounds)}
        SELECT (SELECT COUNT(*) FROM s0) AS n_docs,
               (SELECT CAST(SUM(len(t)) AS BIGINT) FROM s0)
                   AS tokens_before,
               (SELECT CAST(SUM(len(t)) AS BIGINT) FROM {prev})
                   AS tokens_after,
               CAST((SELECT SUM(len(t)) FROM {prev}) * 1000000
                    // (SELECT SUM(len(t)) FROM s0) AS BIGINT)
                   AS ratio_micro
    """


register(QuerySpec(
    name="bpe_compression_stats",
    spark_fn=_bpe_compression,
    oracle=_bpe_compression_oracle,
    covers=("bpe-apply", "tokenizer-compression"),
    extended=True,
))


# --- in-engine classifier training (operators/classify.py) --------------------

_LOGREG_DIM, _LOGREG_ITERS = 16, 3


def _logreg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train logistic regression on hashed bag-of-tokens with the
    weak label 'document mentions the token data'; output the final
    per-bucket micro-weights -- which pin every margin, sigmoid,
    gradient and update of the whole training run bit-for-bit."""
    from ..operators.classify import train_hashed_logreg
    from ..operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    label = F.array_contains(_tokens("text"), "data")
    w, _scored = train_hashed_logreg(
        docs, label, "text", "doc_id",
        dim=_LOGREG_DIM, iters=_LOGREG_ITERS,
    )
    return local_frame(
        spark, [(d, int(v)) for d, v in enumerate(w)], "dim int, w_micro long"
    ).orderBy("dim")


def _logreg_oracle() -> str:
    from ..operators.classify import train_hashed_logreg_sql

    return train_hashed_logreg_sql(
        "documents",
        "list_contains(regexp_split_to_array(text, ' +'), 'data')",
        "text", "doc_id", dim=_LOGREG_DIM, iters=_LOGREG_ITERS,
    )


register(QuerySpec(
    name="logreg_trained_weights",
    spark_fn=_logreg_weights,
    oracle=_logreg_oracle,
    covers=("in-engine-training", "logistic-regression",
            "fixed-point-gradients"),
    extended=True,
))


# --- leakage-safe train/test split (group_safe_split) -------------------------

_LS_FRACTION = 0.2


def _leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the corpus train/test by NEAR-DUP GROUP so no duplicate
    cluster straddles the eval boundary, and audit it against the
    naive per-id split: the naive straddle count is the number of
    clusters the per-id split would leak; the safe count must be 0 by
    construction."""
    from ..operators.sample import group_safe_split, train_test_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                n=_CC_N, threshold=_CC_T)
    comp = dedup_components(pairs)
    labeled = train_test_split(
        group_safe_split(
            docs.select("doc_id"), "doc_id", comp, _LS_FRACTION
        ),
        "doc_id", _LS_FRACTION, split_col="split_naive",
    )
    per_group = labeled.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("split").alias("d_safe"),
        F.countDistinct("split_naive").alias("d_naive"),
    )
    return labeled.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test_safe"),
        F.sum((F.col("split_naive") == "test").cast("long")).alias(
            "n_test_naive"
        ),
    ).crossJoin(
        per_group.agg(
            F.sum((F.col("n") >= 2).cast("long")).alias("n_multi_groups"),
            F.sum(((F.col("n") >= 2) & (F.col("d_naive") > 1)).cast(
                "long")).alias("n_straddling_naive"),
            F.sum(((F.col("n") >= 2) & (F.col("d_safe") > 1)).cast(
                "long")).alias("n_straddling_safe"),
        )
    )


def _leakage_safe_oracle() -> str:
    from ..operators.dedup import dedup_components_ctes
    from ..operators.sample import hash_bucket_sql

    from ..operators.sample import HASH_BUCKETS

    cutoff = int(round(_LS_FRACTION * HASH_BUCKETS))
    pairs_sql = ngram_jaccard_pairs_sql("documents", "text", "doc_id",
                                        _CC_N, _CC_T)
    return f"""
        WITH RECURSIVE {dedup_components_ctes(pairs_sql)},
        labeled AS (
            SELECT doc_id,
                   COALESCE(c.component, doc_id) AS g,
                   CASE WHEN {hash_bucket_sql(
                       "COALESCE(c.component, doc_id)", salt="split")}
                            < {cutoff}
                        THEN 'test' ELSE 'train' END AS s_safe,
                   CASE WHEN {hash_bucket_sql("doc_id", salt="split")}
                            < {cutoff}
                        THEN 'test' ELSE 'train' END AS s_naive
            FROM documents LEFT JOIN components c ON doc_id = c.id
        ),
        gstats AS (
            SELECT g, COUNT(*) AS n,
                   COUNT(DISTINCT s_safe) AS d_safe,
                   COUNT(DISTINCT s_naive) AS d_naive
            FROM labeled GROUP BY g
        )
        SELECT (SELECT COUNT(*) FROM labeled) AS n_docs,
               (SELECT CAST(SUM(CASE WHEN s_safe = 'test' THEN 1
                                     ELSE 0 END) AS BIGINT)
                FROM labeled) AS n_test_safe,
               (SELECT CAST(SUM(CASE WHEN s_naive = 'test' THEN 1
                                     ELSE 0 END) AS BIGINT)
                FROM labeled) AS n_test_naive,
               CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_multi_groups,
               CAST(SUM(CASE WHEN n >= 2 AND d_naive > 1 THEN 1
                             ELSE 0 END) AS BIGINT)
                   AS n_straddling_naive,
               CAST(SUM(CASE WHEN n >= 2 AND d_safe > 1 THEN 1
                             ELSE 0 END) AS BIGINT)
                   AS n_straddling_safe
        FROM gstats
    """


register(QuerySpec(
    name="leakage_safe_split",
    spark_fn=_leakage_safe_split,
    oracle=_leakage_safe_oracle,
    covers=("leakage-safe-split", "group-aware-eval-boundary"),
    extended=True,
))


# --- group-aware k-fold (cross-validation face of the safe split) -------------

_KF_K = 5


def _group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import group_kfold

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                n=_CC_N, threshold=_CC_T)
    comp = dedup_components(pairs)
    labeled = group_kfold(docs.select("doc_id"), "doc_id", comp, k=_KF_K)
    per_group = labeled.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fold").alias("d_folds"),
    )
    folds = (
        labeled.groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    audit = per_group.agg(
        F.sum(((F.col("n") >= 2) & (F.col("d_folds") > 1)).cast("long"))
        .alias("n_straddling")
    )
    return folds.crossJoin(audit).orderBy("fold")


def _group_kfold_oracle() -> str:
    from ..operators.dedup import dedup_components_ctes
    from ..operators.sample import hash_bucket_sql

    pairs_sql = ngram_jaccard_pairs_sql("documents", "text", "doc_id",
                                        _CC_N, _CC_T)
    return f"""
        WITH RECURSIVE {dedup_components_ctes(pairs_sql)},
        labeled AS (
            SELECT doc_id, COALESCE(c.component, doc_id) AS g,
                   CAST({hash_bucket_sql(
                       "COALESCE(c.component, doc_id)", salt="fold")}
                        % {_KF_K} AS INTEGER) AS fold
            FROM documents LEFT JOIN components c ON doc_id = c.id
        ),
        audit AS (
            SELECT CAST(SUM(CASE WHEN n >= 2 AND d > 1 THEN 1 ELSE 0
                            END) AS BIGINT) AS n_straddling
            FROM (
                SELECT g, COUNT(*) AS n, COUNT(DISTINCT fold) AS d
                FROM labeled GROUP BY g
            ) s
        )
        SELECT fold, COUNT(*) AS n_docs,
               (SELECT n_straddling FROM audit) AS n_straddling
        FROM labeled GROUP BY fold ORDER BY fold
    """


register(QuerySpec(
    name="group_kfold_assignment",
    spark_fn=_group_kfold,
    oracle=_group_kfold_oracle,
    covers=("group-kfold", "leakage-safe-cv"),
    extended=True,
))


# --- water-filling quota allocation across strata ------------------------------
#
# The allocation every mixture sampler needs once naive proportional
# shares exceed what small strata HAVE: budget splits by weight,
# strata cap at availability, the excess redistributes exactly
# (operators/sample.py quota_waterfill). Uniform weights over lang
# with budget 400 exercises the interesting regime at both test SFs:
# several languages cap, the largest absorbs the redistributed rest.

_QW_BUDGET = 400


def _quota_waterfill_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import quota_waterfill

    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy(F.col("lang").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_avail"),
        F.lit(1).cast("long").alias("weight"),
    )
    return quota_waterfill(strata, _QW_BUDGET)


def _quota_waterfill_oracle() -> str:
    from ..operators.sample import quota_waterfill_sql

    return quota_waterfill_sql(
        "SELECT lang AS stratum,"
        " CAST(COUNT(*) AS BIGINT) AS n_avail,"
        " CAST(1 AS BIGINT) AS weight"
        " FROM documents GROUP BY lang",
        _QW_BUDGET,
    )


register(QuerySpec(
    name="quota_waterfill_langs",
    spark_fn=_quota_waterfill_langs,
    oracle=_quota_waterfill_oracle,
    covers=("quota-allocation", "water-filling", "capped-mixture"),
    extended=True,  # round-8 rotation (registry.py)
))


# --- curriculum ordering (mixed-difficulty training positions) -----------------

def _curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import curriculum_interleave

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    )
    return curriculum_interleave(
        scored, "n_tokens", "doc_id", n_buckets=10
    ).orderBy("pos")


def _curriculum_order_oracle() -> str:
    from ..operators.sample import curriculum_interleave_sql

    return curriculum_interleave_sql(
        "SELECT doc_id,"
        " CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT)"
        " AS n_tokens FROM documents",
        "n_tokens", "doc_id", n_buckets=10,
    ) + " ORDER BY pos"


register(QuerySpec(
    name="curriculum_interleave_order",
    spark_fn=_curriculum_order,
    oracle=_curriculum_order_oracle,
    covers=("curriculum-ordering", "difficulty-quantile-buckets",
            "training-order"),
    extended=True,  # round-8 rotation (registry.py)
))


# --- budget-exact materialization of the waterfill plan -------------------------

def _quota_waterfill_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import quota_waterfill, quota_waterfill_select

    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy(F.col("lang").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_avail"),
        F.lit(1).cast("long").alias("weight"),
    )
    plan = quota_waterfill(strata, _QW_BUDGET)
    return (
        quota_waterfill_select(
            docs.select("lang", "doc_id"), plan, "lang", "doc_id"
        )
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


def _quota_waterfill_selection_oracle() -> str:
    from ..operators.sample import (
        quota_waterfill_select_sql,
        quota_waterfill_sql,
    )

    plan = quota_waterfill_sql(
        "SELECT lang AS stratum,"
        " CAST(COUNT(*) AS BIGINT) AS n_avail,"
        " CAST(1 AS BIGINT) AS weight"
        " FROM documents GROUP BY lang",
        _QW_BUDGET,
    )
    return quota_waterfill_select_sql(
        "SELECT lang, doc_id FROM documents",
        plan, "lang", "doc_id",
        select="lang, doc_id",
    ) + " ORDER BY lang, doc_id"


register(QuerySpec(
    name="quota_waterfill_selection",
    spark_fn=_quota_waterfill_selection,
    oracle=_quota_waterfill_selection_oracle,
    covers=("budget-exact-sampling", "water-filling",
            "deterministic-selection"),
    extended=True,  # round-8 rotation (registry.py)
))


# --- training-shard manifest of the curriculum order ----------------------------

_SHARD_ROWS = 200


def _curriculum_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import shard_manifest
    from ..operators.sample import curriculum_interleave

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    )
    ordered = curriculum_interleave(
        scored, "n_tokens", "doc_id", n_buckets=10
    )
    return shard_manifest(
        ordered, "doc_id", "pos", rows_per_shard=_SHARD_ROWS
    )


def _curriculum_shard_manifest_oracle() -> str:
    from ..operators.layout import shard_manifest_sql
    from ..operators.sample import curriculum_interleave_sql

    ordered = curriculum_interleave_sql(
        "SELECT doc_id,"
        " CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT)"
        " AS n_tokens FROM documents",
        "n_tokens", "doc_id", n_buckets=10,
    )
    return shard_manifest_sql(
        ordered, "doc_id", "pos", rows_per_shard=_SHARD_ROWS
    )


register(QuerySpec(
    name="curriculum_shard_manifest",
    spark_fn=_curriculum_shard_manifest,
    oracle=_curriculum_shard_manifest_oracle,
    covers=("training-shards", "order-manifest",
            "deterministic-export"),
    extended=True,  # round-8 rotation (registry.py)
))


# --- asymmetric containment near-dup (short doc inside long doc) ----------------

_CT_N, _CT_PPM = 3, 800_000


def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        ngram_containment_pairs(
            docs, "text", "doc_id", n=_CT_N, threshold_ppm=_CT_PPM
        )
        .orderBy("contained_id", "container_id")
    )


def _dedup_containment_oracle() -> str:
    from ..operators.dedup import ngram_containment_pairs_sql

    return ngram_containment_pairs_sql(
        "documents", "text", "doc_id", n=_CT_N, threshold_ppm=_CT_PPM
    ) + " ORDER BY contained_id, container_id"


register(QuerySpec(
    name="dedup_containment_pairs",
    spark_fn=_dedup_containment,
    oracle=_dedup_containment_oracle,
    covers=("containment-dedup", "asymmetric-near-dup",
            "subset-document"),
    extended=True,  # round-8 rotation (registry.py)
))


# --- mixture-balanced shard assignment ------------------------------------------

_BSH_N = 8


def _mixture_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import balanced_shard_assignment

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    return (
        balanced_shard_assignment(docs, "lang", "doc_id", _BSH_N)
        .groupBy("shard", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("shard", "lang")
    )


def _mixture_balanced_shards_oracle() -> str:
    from ..operators.sample import balanced_shard_assignment_sql

    inner = balanced_shard_assignment_sql(
        "SELECT lang, doc_id FROM documents",
        "lang", "doc_id", _BSH_N, select="lang, doc_id",
    )
    return f"""
        SELECT CAST(shard AS BIGINT) AS shard, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM ({inner})
        GROUP BY shard, lang
        ORDER BY shard, lang
    """


register(QuerySpec(
    name="mixture_balanced_shards",
    spark_fn=_mixture_balanced_shards,
    oracle=_mixture_balanced_shards_oracle,
    covers=("balanced-sharding", "mixture-stability",
            "round-robin-stratified"),
    extended=True,  # round-8 rotation (registry.py)
))


# --- near-dup cluster governance: size histogram + removable mass -------------
#
# The number a curation review reads after any near-dup pass: how is
# duplicate mass distributed across cluster sizes, and how many docs
# would dedup remove? One row per cluster size k: n_clusters,
# n_docs (= k * n_clusters), n_removable (docs beyond each cluster's
# survivor). Built on the same pairs -> components chain as
# dedup_connected_groups; the histogram is a two-stage count-of-counts
# (|clusters| rows, then |distinct sizes| rows -- both tiny next to
# the corpus, the classic degree-histogram shape).

def _dedup_cluster_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                n=_CC_N, threshold=_CC_T)
    comp = dedup_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return (
        sizes.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "k",
            "n_clusters",
            (F.col("k") * F.col("n_clusters")).cast("long")
            .alias("n_docs"),
            ((F.col("k") - 1) * F.col("n_clusters")).cast("long")
            .alias("n_removable"),
        )
        .orderBy("k")
    )


register(QuerySpec(
    name="dedup_cluster_size_histogram",
    spark_fn=_dedup_cluster_histogram,
    oracle=f"""
        WITH comp AS (
            {dedup_components_sql(
                ngram_jaccard_pairs_sql("documents", "text", "doc_id",
                                        _CC_N, _CC_T))}
        ), sizes AS (
            SELECT component, CAST(COUNT(*) AS BIGINT) AS k
            FROM comp GROUP BY component
        )
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(k * COUNT(*) AS BIGINT) AS n_docs,
               CAST((k - 1) * COUNT(*) AS BIGINT) AS n_removable
        FROM sizes
        GROUP BY k
        ORDER BY k
    """,
    covers=("dedup-governance", "cluster-size-histogram",
            "count-of-counts"),
))


# --- Neyman (variance-optimal) stratified allocation (round-9) -------------------
#
# The waterfill family allocates a budget over GIVEN weights; Neyman
# closes the loop by deriving the optimal weights from the data
# itself: weight_h = N_h * sigma_h minimizes the variance of the
# stratified mean under a fixed labeling/eval budget (the allocation
# every "which strata deserve the annotation budget" decision should
# use, instead of proportional-to-size). The exact-integer trick:
# N_h * sigma_h == sqrt(N_h*sum(x^2) - sum(x)^2) -- one IEEE sqrt of
# the same BIGINT in both engines, floored. The full chain
# (weights -> capped waterfill -> md5-ranked draw) is attested in one
# row per stratum including a fingerprint of the exact drawn set.

_NEYMAN_BUDGET = 120


def _neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import (
        neyman_weights,
        quota_waterfill,
        quota_waterfill_select,
    )

    docs = load_table(spark, sf_dir, "documents")
    # eager localCheckpoint: the |strata|-row weights frame feeds the
    # waterfill (which references its input several times), the
    # zero-weight arm and the draw join -- without pinning it, every
    # reference re-runs the corpus-grain aggregate (~10 scans in the
    # audited plan; 1 after)
    weights = neyman_weights(docs, "source", "n_chars").localCheckpoint(
        eager=True
    )
    plan = quota_waterfill(
        weights.filter(F.col("weight") > 0), _NEYMAN_BUDGET
    ).localCheckpoint(eager=True)
    drawn = quota_waterfill_select(
        docs.select("source", "doc_id"), plan, "source", "doc_id",
        salt="neyman",
    )
    per_stratum = drawn.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_drawn"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("sample_fp"),
    )
    allocated = plan.select(
        F.col("stratum").alias("source"),
        "n_avail", "weight", "capped", "alloc",
    ).join(per_stratum, "source", "left")
    zero = weights.filter(F.col("weight") == 0).select(
        F.col("stratum").alias("source"),
        "n_avail", "weight",
        F.lit(0).cast("long").alias("capped"),
        F.lit(0).cast("long").alias("alloc"),
        F.lit(None).cast("long").alias("n_drawn"),
        F.lit(None).cast("string").alias("sample_fp"),
    )
    return allocated.unionByName(zero).orderBy("source")


def _neyman_allocation_oracle() -> str:
    from ..operators.sample import (
        neyman_weights_sql,
        quota_waterfill_select_sql,
        quota_waterfill_sql,
    )

    weights = neyman_weights_sql(
        "SELECT * FROM documents", "source", "n_chars"
    )
    plan = quota_waterfill_sql(
        f"SELECT stratum, n_avail, weight FROM ({weights})"
        " WHERE weight > 0",
        _NEYMAN_BUDGET,
    )
    sel = quota_waterfill_select_sql(
        "SELECT source, doc_id FROM documents",
        plan, "source", "doc_id", salt="neyman",
        select="source, doc_id",
    )
    return f"""
        WITH plan AS ({plan}), drawn AS ({sel}),
        per_stratum AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_drawn,
                   md5(array_to_string(list_sort(list(doc_id)), ','))
                       AS sample_fp
            FROM drawn GROUP BY 1
        ), weights AS ({weights})
        SELECT p.stratum AS source, p.n_avail, p.weight, p.capped,
               p.alloc, s.n_drawn, s.sample_fp
        FROM plan p LEFT JOIN per_stratum s ON s.source = p.stratum
        UNION ALL
        SELECT stratum AS source, n_avail, weight,
               CAST(0 AS BIGINT) AS capped, CAST(0 AS BIGINT) AS alloc,
               CAST(NULL AS BIGINT) AS n_drawn,
               CAST(NULL AS VARCHAR) AS sample_fp
        FROM weights WHERE weight = 0
        ORDER BY source
    """


register(QuerySpec(
    name="neyman_allocation_sample",
    spark_fn=_neyman_allocation,
    oracle=_neyman_allocation_oracle,
    covers=("neyman-allocation", "variance-optimal-sampling",
            "budget-exact-stratified-draw"),
    audit=True,
))


# --- incremental connected components through the store (round-9) ----------------
#
# The dedup tiers find PAIRS; dedup_components resolves one batch's
# pairs into groups; this is the day-2 shape: a persistent
# (id, component) store, bucket-partitioned by component hash, merged
# with each day's new pairs in O(batch + affected members) -- the
# stored labeling is a star-graph spanning structure, so
# components(store-stars UNION new-edges) == components(all edges
# ever), and only the buckets hosting touched components rewrite.
# Labels are canonical (min reachable id), so the scenario attests
# incremental-through-the-store == one-shot recompute BIT-FOR-BIT:
# the oracle runs the recursive CTE over the union of both days'
# edges and must reproduce the store summary exactly.

def _cs_day1_edges(orders: DataFrame) -> DataFrame:
    base = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k")
    )
    return base.select(
        F.col("k").alias("id_a"), (F.col("k") + 1).alias("id_b")
    ).unionAll(
        base.select(
            (F.col("k") + 2).alias("id_a"),
            (F.col("k") + 3).alias("id_b"),
        )
    )


def _cs_day2_edges(orders: DataFrame) -> DataFrame:
    merges = orders.filter(F.col("o_orderkey") % 20 == 0).select(
        (F.col("o_orderkey") + 1).alias("id_a"),
        (F.col("o_orderkey") + 2).alias("id_b"),
    )
    fresh = orders.filter(F.col("o_orderkey") % 50 == 0).select(
        (F.col("o_orderkey") + 5).alias("id_a"),
        (F.col("o_orderkey") + 6).alias("id_b"),
    )
    return merges.unionAll(fresh)


_CS_EDGES_SQL = """
    SELECT o_orderkey AS id_a, o_orderkey + 1 AS id_b
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 2, o_orderkey + 3
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 1, o_orderkey + 2
    FROM orders WHERE o_orderkey % 20 = 0
    UNION ALL
    SELECT o_orderkey + 5, o_orderkey + 6
    FROM orders WHERE o_orderkey % 50 = 0
"""


def _component_store_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.component_store import (
        component_store_summary,
        merge_component_batch,
    )

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="spark_cstore_")
    try:
        store = f"{tmp}/components"
        merge_component_batch(spark, _cs_day1_edges(orders), store)
        merge_component_batch(spark, _cs_day2_edges(orders), store)
        # pin the one-row summary before the tempdir vanishes
        return component_store_summary(spark, store).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _component_store_plans(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """Plan-audit provider: materialize the day-1 store into a
    tempdir, then return the UNEXECUTED day-2 inner shapes -- the
    touched-members pull, one label-propagation round over the
    affected subgraph, and the carried-rows rewrite leg.

    The returned plans read the materialized store, so the tempdir
    must outlive this call (the audit explains/executes them later);
    cleanup is deferred to interpreter exit via atexit instead of a
    ``finally`` rmtree (which would yield plans over deleted files)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.component_store import (
        _bucket,
        merge_component_batch,
        read_component_store,
    )

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="spark_cstore_audit_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    store_path = f"{tmp}/components"
    merge_component_batch(spark, _cs_day1_edges(orders), store_path)
    store = read_component_store(spark, store_path)
    pairs = _cs_day2_edges(orders)
    endpoints = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched = (
        store.join(endpoints, "id", "left_semi")
        .select("component").distinct()
    )
    members = store.join(touched, "component", "left_semi")
    graph = members.select(
        F.col("id").alias("id_a"), F.col("component").alias("id_b")
    ).unionAll(pairs)
    sym = graph.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        graph.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels0 = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    one_round = (
        sym.join(labels0, sym.src == labels0.id)
        .groupBy("dst").agg(F.min("label").alias("label"))
    )
    carried = (
        store.withColumn("bucket", _bucket("component"))
        .join(
            touched.select(_bucket("component").alias("bucket")),
            "bucket", "left_semi",
        )
        .join(touched, "component", "left_anti")
    )
    return {
        "members_pull": members,
        "prop_round": one_round,
        "carried_rewrite": carried,
    }


def _component_store_oracle() -> str:
    from ..operators.dedup import dedup_components_ctes

    return f"""
        WITH RECURSIVE {dedup_components_ctes(_CS_EDGES_SQL)}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(COUNT(DISTINCT component) AS BIGINT)
                   AS n_components,
               CAST((SELECT MAX(sz) FROM (
                   SELECT COUNT(*) AS sz FROM components
                   GROUP BY component
               )) AS BIGINT) AS max_component,
               CAST(SUM(id) AS BIGINT) AS sum_ids,
               CAST(SUM(component) AS BIGINT) AS sum_labels
        FROM components
    """


register(QuerySpec(
    name="component_store_incremental",
    spark_fn=_component_store_incremental,
    oracle=_component_store_oracle,
    covers=("incremental-connected-components", "component-store",
            "day2-dedup-groups"),
    audit=True,
    plan_fn=_component_store_plans,
))


# --- auto-tuned curation flagship (round-10, r9 verdict stretch item 8) ------------
#
# The two self-tuning dials shipped in round 9 -- the minhash
# banding-cost planner (dedup.py plan: choose the smallest
# rows_per_band whose EXACT collision bill fits a linear budget) and
# the ANN density dial (similarity.py scaled_n_cells) -- attested
# IN COMPOSITION: one day-2-shaped flagship that (a) plans the band
# shape from signature stats, (b) runs the banded join at the chosen
# r, (c) scales semdedup's Voronoi cell count to the corpus. The
# xxhash64 signatures have no SQL twin, so the driver row follows the
# heavy_hitters guarantee-flag pattern: engine-variable values
# (chosen r, collision bills) are validated by flags that hold by
# construction, while every corpus count and the scaled cell count
# itself (pure integer arithmetic on COUNT(*)) hash against exact
# oracle arithmetic. The planner-chosen band shape is visible in the
# plan audit (the band_join label carries r) and in pytest.

_AT_BUDGET_PER_DOC = 50
_AT_SEM_THRESHOLD = 0.9
_AT_TARGET_CELL_ROWS = 256
_AT_DIM = 64


def _at_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    clones = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionAll(clones)


def _at_valid_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return emb.filter(
        v.isNotNull()
        & (F.size(v) == _AT_DIM)
        & (dot(v.cast("array<double>"), v.cast("array<double>")) > 0)
    ).select("vec_id", "embedding")


def _autotuned_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan the band shape, run the banded join at the chosen r, scale
    semdedup's cells, then verify each leg (flags by construction)."""
    from ..operators.dedup import (
        _band_keys,
        _minhash_shingles,
        minhash_band_cost,
    )
    from ..operators.similarity import scaled_n_cells, semdedup

    corpus = _at_corpus(spark, sf_dir)
    sh = _minhash_shingles(corpus, "text", "doc_id", 3, None)
    n_docs = sh.count()
    budget = _AT_BUDGET_PER_DOC * n_docs
    cost = sorted(
        minhash_band_cost(
            corpus, rows_per_band_options=(1, 2), shingles=sh
        ).collect(),
        key=lambda r: r.rows_per_band,
    )
    chosen = next(
        (r for r in cost if r.n_collision_pairs <= budget), cost[-1]
    )
    bands = sh.select(
        "id",
        F.posexplode(
            _band_keys(4, int(chosen.rows_per_band), 42)
        ).alias("band", "key"),
    )
    # persisted: the collision relation is counted for plan==join AND
    # re-read by the dropDuplicates / injected-pair anti-join legs --
    # unpersisted, the banded self-join (the flagship's most
    # expensive stage) would execute once per consumer
    from ..operators.caching import persisted

    collisions = persisted(
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
    )
    valid = _at_valid_vectors(spark, sf_dir)
    n_valid = valid.count()
    cells = scaled_n_cells(n_valid, _AT_TARGET_CELL_ROWS)
    sem = semdedup(
        valid, _AT_SEM_THRESHOLD, n_cells=cells,
        id_col="vec_id", vec_col="embedding", dim=_AT_DIM,
    )
    # guarantee legs (engine-side verification, flags by construction)
    n_join = collisions.count()
    plan_join_diff = abs(int(chosen.n_collision_pairs) - n_join)
    within = (
        int(chosen.n_collision_pairs) <= budget
        or int(chosen.rows_per_band) == int(cost[-1].rows_per_band)
    )
    smallest = all(
        r.n_collision_pairs > budget
        for r in cost
        if r.rows_per_band < chosen.rows_per_band
    )
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    cand = collisions.dropDuplicates(["id_a", "id_b"])
    n_injected = injected.count()
    n_missed = injected.join(cand, ["id_a", "id_b"], "left_anti").count()
    n_keep = sem.filter(F.col("keep")).count()
    rows = [
        ("n_docs", int(n_docs)),
        ("n_injected_pairs", int(n_injected)),
        ("n_missed_injected", int(n_missed)),
        ("n_plan_join_diff", int(plan_join_diff)),
        ("band_within_budget", int(within)),
        ("band_smallest_within_budget", int(smallest)),
        ("n_valid_vectors", int(n_valid)),
        ("n_cells_scaled", int(cells)),
        ("sem_keep_le_valid", int(n_keep <= n_valid)),
    ]
    return local_frame(spark, rows, "stage string, n long")


def _autotuned_curation_oracle() -> str:
    from ..operators.similarity import dot_sql

    dd = dot_sql(
        "(CAST(embedding AS DOUBLE[]))", "(CAST(embedding AS DOUBLE[]))"
    )
    return f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents
            WHERE doc_id % 5 = 0
        ), nonempty AS (
            SELECT * FROM corpus WHERE length(text) > 0
        ), valid AS (
            SELECT vec_id FROM embeddings
            WHERE embedding IS NOT NULL
              AND len(embedding) = {_AT_DIM}
              AND {dd} > 0
        )
        SELECT 'n_docs' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n FROM nonempty
        UNION ALL
        SELECT 'n_injected_pairs', CAST(COUNT(*) AS BIGINT)
        FROM documents WHERE doc_id % 5 = 0 AND length(text) > 0
        UNION ALL
        SELECT 'n_missed_injected', CAST(0 AS BIGINT)
        UNION ALL
        SELECT 'n_plan_join_diff', CAST(0 AS BIGINT)
        UNION ALL
        SELECT 'band_within_budget', CAST(1 AS BIGINT)
        UNION ALL
        SELECT 'band_smallest_within_budget', CAST(1 AS BIGINT)
        UNION ALL
        SELECT 'n_valid_vectors', CAST(COUNT(*) AS BIGINT) FROM valid
        UNION ALL
        SELECT 'n_cells_scaled',
               -- all-positive ceil idiom: DuckDB // truncates toward
               -- zero, so -((-n) // t) FLOORS for positive n and
               -- diverges from scaled_n_cells' ceil once the
               -- GREATEST(8, ...) clamp stops masking it (first at
               -- n_valid > 2048 not a multiple of 256)
               CAST(GREATEST(8, LEAST(1048576,
                    (COUNT(*) + {_AT_TARGET_CELL_ROWS} - 1)
                    // {_AT_TARGET_CELL_ROWS}))
                    AS BIGINT)
        FROM valid
        UNION ALL
        SELECT 'sem_keep_le_valid', CAST(1 AS BIGINT)
    """


def _autotuned_curation_plans(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """Plan-audit provider: the planner's bucket-cost aggregate, the
    banded self-join AT THE PLANNER-CHOSEN r (label carries the band
    shape), and the scaled-cell semdedup."""
    from ..operators.dedup import (
        _band_keys,
        _minhash_shingles,
        minhash_band_cost,
    )
    from ..operators.similarity import scaled_n_cells, semdedup

    corpus = _at_corpus(spark, sf_dir)
    sh = _minhash_shingles(corpus, "text", "doc_id", 3, None)
    budget = _AT_BUDGET_PER_DOC * sh.count()
    cost = sorted(
        minhash_band_cost(
            corpus, rows_per_band_options=(1, 2), shingles=sh
        ).collect(),
        key=lambda r: r.rows_per_band,
    )
    chosen = next(
        (r for r in cost if r.n_collision_pairs <= budget), cost[-1]
    )
    r = int(chosen.rows_per_band)
    bands = sh.select(
        "id", F.posexplode(_band_keys(4, r, 42)).alias("band", "key")
    )
    band_join = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
    )
    valid = _at_valid_vectors(spark, sf_dir)
    cells = scaled_n_cells(valid.count(), _AT_TARGET_CELL_ROWS)
    return {
        "band_cost_plan": minhash_band_cost(
            corpus, rows_per_band_options=(1, 2), shingles=sh
        ),
        f"band_join_r{r}": band_join,
        f"semdedup_cells{cells}": semdedup(
            valid, _AT_SEM_THRESHOLD, n_cells=cells,
            id_col="vec_id", vec_col="embedding", dim=_AT_DIM,
        ),
    }


register(QuerySpec(
    name="autotuned_curation_stats",
    spark_fn=_autotuned_curation,
    oracle=_autotuned_curation_oracle,
    covers=("banding-cost-planner-composed", "density-dial-composed",
            "day2-autotuned-flagship"),
    audit=True,
    plan_fn=_autotuned_curation_plans,
))


# --- packing waste audit v2: cut vs shelf vs BFD (round-11) --------------------------
#
# Same chunk stream and shards as packed_bins; turns the packing
# choice into measured padded-slot counts (operators/corpus.py
# packing_waste_audit). The cut and shelf arms are oracle-exact; the
# best-fit-decreasing arm is attested by guarantee flags (validity +
# accounting by construction, bfd >= cut by the lower-bound theorem,
# the any-fit half-full theorem, bfd <= shelf pinned on this corpus).

def _packing_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import packing_waste_audit

    return packing_waste_audit(
        _pack_chunks(spark, sf_dir),
        capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS,
        bucket_width=8,
    )


def _packing_waste_audit_oracle() -> str:
    from ..operators.corpus import packing_waste_audit_sql

    return packing_waste_audit_sql(
        _pack_chunks_sql(), capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS, bucket_width=8,
    )


register(QuerySpec(
    name="packing_waste_audit",
    spark_fn=_packing_waste_audit,
    oracle=_packing_waste_audit_oracle,
    covers=("packing-waste", "best-fit-decreasing",
            "shelf-packing", "padded-slot-audit"),
    scale_path="packed_bins",
))
