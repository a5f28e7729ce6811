"""Round-8 tier: the training-RUN data plane.

Everything between a curated corpus and a training job's data loader:
preference-pair mining (RLHF/DPO), deterministic epoch shuffling,
packed-sequence attention boundaries, token-budget mixture planning
with epoching, chat-template serialization, and day-2 profile drift.
The reference has no such surface (single weather CSV, ETL.py:25-46);
this tier is part of the mandated LLM-pipeline extension
(BASELINE.json), same as the web/curation tiers.

Every query carries an exact DuckDB twin; scale notes live on the
operators (operators/preference.py, sample.py, corpus.py, text.py,
profile.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..schemas import load_table
from .registry import QuerySpec, register

# --- preference_pairs_events: RLHF pair mining ---------------------------------
#
# Candidate pool: events as scored responses -- prompt group =
# (user_id, event_type), candidate id = event_id, reward = value.
# Groups are real multi-candidate sets (users repeat event types), so
# chosen/rejected tie-breaks and the margin filter all get exercised
# on driver data.

_PREF_MIN_MARGIN = 500  # scaled by 1000: demand >= 0.5 reward margin


def _preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.preference import preference_pairs

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value"
    )
    return preference_pairs(
        ev, ["user_id", "event_type"], "event_id", "value",
        scale=1000, min_margin_scaled=_PREF_MIN_MARGIN,
    ).orderBy("user_id", "event_type")


def _preference_pairs_oracle() -> str:
    from ..operators.preference import preference_pairs_sql

    inner = preference_pairs_sql(
        "SELECT user_id, event_type, event_id, value FROM events",
        ["user_id", "event_type"], "event_id", "value",
        scale=1000, min_margin_scaled=_PREF_MIN_MARGIN,
    )
    return f"SELECT * FROM ({inner}) ORDER BY user_id, event_type"


register(QuerySpec(
    name="preference_pairs_events",
    spark_fn=_preference_pairs,
    oracle=_preference_pairs_oracle,
    covers=("preference-pairs", "rlhf-data", "argmax-argmin-agg"),
    audit=True,  # one aggregate over the fact table
))

# --- epoch_shuffle_manifest: deterministic data-loader order -------------------

_EPOCHS, _SHUF_BUCKETS = 2, 16


def _epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import epoch_shuffle_manifest

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle_manifest(
        docs, "doc_id", epochs=_EPOCHS, n_buckets=_SHUF_BUCKETS
    ).orderBy("epoch", "bucket")


def _epoch_shuffle_oracle() -> str:
    from ..operators.sample import epoch_shuffle_manifest_sql

    inner = epoch_shuffle_manifest_sql(
        "SELECT doc_id FROM documents", "doc_id",
        epochs=_EPOCHS, n_buckets=_SHUF_BUCKETS,
    )
    return f"SELECT * FROM ({inner}) ORDER BY epoch, bucket"


register(QuerySpec(
    name="epoch_shuffle_manifest",
    spark_fn=_epoch_shuffle,
    oracle=_epoch_shuffle_oracle,
    covers=("epoch-shuffle", "order-manifest", "loader-determinism"),
))

# --- mixture_epoch_plan: token-budget planning with epoching -------------------
#
# Targets are synthesized per-source from source-residue arithmetic so
# some sources are under-supplied (upsampled, possibly cap-bound) and
# others over-supplied (downsampled) at the chosen budget.

_MIX_BUDGET = 60_000
_MIX_CAP_PPM = 2_500_000


def _mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import mixture_epoch_plan

    docs = load_table(spark, sf_dir, "documents")
    strata = (
        docs.select(
            F.col("source").alias("stratum"),
            T.token_count("text").alias("n"),
        )
        .groupBy("stratum")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
        .withColumn(
            "target_ppm",
            # coalesce(.., 0): a digitless stratum name would extract
            # '' -> NULL, and mixture_epoch_plan now fails loudly on
            # NULL targets (round-8 advice); default such strata to
            # the smallest share instead of erroring the whole plan
            (
                (
                    F.coalesce(
                        F.regexp_extract("stratum", r"(\d+)", 1)
                        .cast("long"),
                        F.lit(0),
                    ) % 5
                    + 1
                ) * 40_000
            ).cast("long"),
        )
    )
    return mixture_epoch_plan(
        strata, token_budget=_MIX_BUDGET, max_epochs_ppm=_MIX_CAP_PPM
    ).orderBy("stratum")


def _mixture_epochs_oracle() -> str:
    from ..operators.sample import mixture_epoch_plan_sql

    strata_sql = """
        SELECT source AS stratum,
               CAST(SUM(len(regexp_split_to_array(text, ' +')))
                    AS BIGINT) AS n_tokens,
               -- TRY_CAST: a digitless source extracts '' which CAST
               -- errors on in DuckDB while Spark's cast yields NULL;
               -- TRY_CAST restores identical NULL semantics, and
               -- COALESCE(..,0) defaults such strata to the smallest
               -- share (mixture_epoch_plan fails loudly on NULL)
               CAST((COALESCE(TRY_CAST(regexp_extract(source,
                          '(\\d+)', 1) AS BIGINT), 0) % 5 + 1)
                    * 40000 AS BIGINT)
                   AS target_ppm
        FROM documents
        GROUP BY source
    """
    inner = mixture_epoch_plan_sql(
        strata_sql, token_budget=_MIX_BUDGET,
        max_epochs_ppm=_MIX_CAP_PPM,
    )
    return f"SELECT * FROM ({inner}) ORDER BY stratum"


register(QuerySpec(
    name="mixture_epoch_plan",
    spark_fn=_mixture_epochs,
    oracle=_mixture_epochs_oracle,
    covers=("mixture-epoching", "token-budget-plan",
            "upsample-cap"),
))

# --- packed_attention_spans: per-bin mask-reset manifest -----------------------
#
# Same chunk stream and packing parameters as packed_bins
# (queries_pipeline.py), one more stage: the per-bin boundary manifest
# a loader consumes to reset cross-document attention.

_PAS_CAPACITY, _PAS_SHARDS = 100, 8


def _packed_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import (
        pack_sequences,
        packed_attention_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.explode(T.token_chunks("text", 50, 40)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size(F.split("c.chunk", " ")).alias("n_tokens"),
    )
    packed = pack_sequences(
        chunks, capacity=_PAS_CAPACITY, n_shards=_PAS_SHARDS
    )
    return packed_attention_spans(
        packed, capacity=_PAS_CAPACITY
    ).orderBy("shard", "bin_id")


def _packed_spans_oracle() -> str:
    from ..operators.corpus import (
        pack_sequences_sql,
        packed_attention_spans_sql,
    )

    chunks_sql = f"""
        SELECT doc_id,
               c.chunk_id AS chunk_id,
               CAST(len(string_split(c.chunk, ' ')) AS INTEGER)
                   AS n_tokens
        FROM (
            SELECT doc_id,
                   unnest({T.token_chunks_sql('text', 50, 40)}) AS c
            FROM documents
        )"""
    packed = pack_sequences_sql(
        chunks_sql, capacity=_PAS_CAPACITY, n_shards=_PAS_SHARDS
    )
    inner = packed_attention_spans_sql(packed, capacity=_PAS_CAPACITY)
    return f"SELECT * FROM ({inner}) ORDER BY shard, bin_id"


register(QuerySpec(
    name="packed_attention_spans",
    spark_fn=_packed_spans,
    oracle=_packed_spans_oracle,
    covers=("attention-boundaries", "packing-manifest"),
))

# --- chat_template_roundtrip: SFT serialization contract -----------------------
#
# Dialogs synthesized from each document's token stream (first half =
# prompt, second half = response -- deterministic, identical exprs in
# both engines). The contract row per lang: every rendered dialog
# parses back to its exact (prompt, response), the loss-mask span is
# exactly the response, and template markers never leak into content.

def _chat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.split(F.col("text"), " ").alias("toks"),
    ).select(
        "doc_id", "lang",
        F.array_join(
            F.slice(
                "toks", 1, (F.size("toks") / 2).cast("int")
            ), " "
        ).alias("prompt"),
        F.array_join(
            F.slice(
                "toks",
                (F.size("toks") / 2).cast("int") + 1,
                F.size("toks"),
            ), " "
        ).alias("response"),
    ).filter(
        (F.length("prompt") > 0) & (F.length("response") > 0)
    )
    rendered = docs.select(
        "doc_id", "lang", "prompt", "response",
        T.render_chat("prompt", "response").alias("rendered"),
    )
    parsed = rendered.select(
        "lang", "prompt", "response", "rendered",
        T.parse_chat("rendered").alias("p"),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dialogs"),
            F.sum(
                (
                    (F.col("p.prompt") == F.col("prompt"))
                    & (F.col("p.response") == F.col("response"))
                ).cast("long")
            ).cast("long").alias("n_roundtrip_ok"),
            F.sum(
                (
                    F.substring(
                        F.col("rendered"),
                        F.col("p.mask_start").cast("int"),
                        F.col("p.mask_len").cast("int"),
                    ) == F.col("response")
                ).cast("long")
            ).cast("long").alias("n_mask_exact"),
            F.sum(F.col("p.mask_len")).cast("long")
            .alias("mask_chars"),
            F.sum(F.length("rendered")).cast("long")
            .alias("rendered_chars"),
            F.sum(
                F.col("prompt").contains("<|").cast("long")
                + F.col("response").contains("<|").cast("long")
            ).cast("long").alias("n_marker_leaks"),
        )
        .orderBy("lang")
    )


def _chat_roundtrip_oracle() -> str:
    fields = T.parse_chat_sql("rendered")
    rendered = T.render_chat_sql("prompt", "response")
    return f"""
        WITH halves AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(text, ' ') AS toks
            FROM documents
        ), dialogs AS (
            SELECT doc_id, lang,
                   array_to_string(
                       toks[1 : CAST(len(toks) // 2 AS INTEGER)],
                       ' ') AS prompt,
                   array_to_string(
                       toks[CAST(len(toks) // 2 AS INTEGER) + 1
                            : len(toks)], ' ') AS response
            FROM halves
        ), rendered AS (
            SELECT lang, prompt, response,
                   {rendered} AS rendered
            FROM dialogs
            WHERE length(prompt) > 0 AND length(response) > 0
        ), parsed AS (
            SELECT lang, prompt, response, rendered,
                   {fields['prompt']} AS p_prompt,
                   {fields['response']} AS p_response,
                   {fields['mask_start']} AS mask_start,
                   {fields['mask_len']} AS mask_len
            FROM rendered
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_dialogs,
               CAST(SUM(CASE WHEN p_prompt = prompt
                              AND p_response = response
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_roundtrip_ok,
               CAST(SUM(CASE WHEN substr(rendered,
                                         CAST(mask_start AS INTEGER),
                                         CAST(mask_len AS INTEGER))
                                  = response
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mask_exact,
               CAST(SUM(mask_len) AS BIGINT) AS mask_chars,
               CAST(SUM(length(rendered)) AS BIGINT)
                   AS rendered_chars,
               CAST(SUM(CASE WHEN contains(prompt, '<|')
                             THEN 1 ELSE 0 END
                        + CASE WHEN contains(response, '<|')
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_marker_leaks
        FROM parsed
        GROUP BY lang
        ORDER BY lang
    """


register(QuerySpec(
    name="chat_template_roundtrip",
    spark_fn=_chat_roundtrip,
    oracle=_chat_roundtrip_oracle,
    covers=("chat-template", "sft-serialization",
            "loss-mask-spans", "roundtrip-contract"),
))

# --- profile_drift_orders: day-2 schema/statistics drift -----------------------
#
# Two deterministic snapshots of orders (day 2 drops a residue class,
# nulls some priorities, and re-prices one status class), profiled
# with the existing one-pass profiler; the report row per column
# carries the count-grain drift (rows, nulls, distincts) a day-2
# monitor alerts on. Count columns only -- BIGINT end to end.

def _profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus",
    )
    day2 = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        # +10.0 is a single IEEE add -- bit-identical in both engines.
        # (ROUND(x * 1.1, 2) was not: Spark rounds the shortest decimal
        # repr via BigDecimal HALF_UP, DuckDB rounds the binary double,
        # and ~0.4% of values diverge -- a COUNT DISTINCT flake.)
        F.when(
            F.col("o_orderstatus") == "F",
            F.col("o_totalprice") + 10.0,
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string")
        ).otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "o_orderstatus",
    )
    a = profile(orders).select(
        "col_name",
        F.col("n_rows").alias("rows_a"),
        F.col("n_null").alias("null_a"),
        F.col("n_distinct").alias("dist_a"),
    )
    b = profile(day2).select(
        "col_name",
        F.col("n_rows").alias("rows_b"),
        F.col("n_null").alias("null_b"),
        F.col("n_distinct").alias("dist_b"),
    )
    return (
        a.join(b, "col_name", "full_outer")
        .select(
            "col_name",
            F.col("rows_a").cast("long").alias("rows_a"),
            F.col("rows_b").cast("long").alias("rows_b"),
            F.col("null_a").cast("long").alias("null_a"),
            F.col("null_b").cast("long").alias("null_b"),
            F.col("dist_a").cast("long").alias("dist_a"),
            F.col("dist_b").cast("long").alias("dist_b"),
            F.expr("null_b * 1000000 div rows_b").cast("long")
            .alias("null_ppm_b"),
            (F.col("dist_b") - F.col("dist_a")).cast("long")
            .alias("dist_delta"),
        )
        .orderBy("col_name")
    )


_PROFILE_DRIFT_ORACLE = """
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority,
               o_orderstatus
        FROM orders
    ), day2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F'
                    THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS o_orderpriority,
               o_orderstatus
        FROM base WHERE o_orderkey % 11 != 0
    ), pa AS (
        SELECT col_name, rows_a, null_a, dist_a FROM (
            SELECT 'o_orderkey' AS col_name, COUNT(*) AS rows_a,
                   COUNT(*) - COUNT(o_orderkey) AS null_a,
                   COUNT(DISTINCT o_orderkey) AS dist_a FROM base
            UNION ALL
            SELECT 'o_totalprice', COUNT(*),
                   COUNT(*) - COUNT(o_totalprice),
                   COUNT(DISTINCT o_totalprice) FROM base
            UNION ALL
            SELECT 'o_orderpriority', COUNT(*),
                   COUNT(*) - COUNT(o_orderpriority),
                   COUNT(DISTINCT o_orderpriority) FROM base
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*),
                   COUNT(*) - COUNT(o_orderstatus),
                   COUNT(DISTINCT o_orderstatus) FROM base
        )
    ), pb AS (
        SELECT col_name, rows_b, null_b, dist_b FROM (
            SELECT 'o_orderkey' AS col_name, COUNT(*) AS rows_b,
                   COUNT(*) - COUNT(o_orderkey) AS null_b,
                   COUNT(DISTINCT o_orderkey) AS dist_b FROM day2
            UNION ALL
            SELECT 'o_totalprice', COUNT(*),
                   COUNT(*) - COUNT(o_totalprice),
                   COUNT(DISTINCT o_totalprice) FROM day2
            UNION ALL
            SELECT 'o_orderpriority', COUNT(*),
                   COUNT(*) - COUNT(o_orderpriority),
                   COUNT(DISTINCT o_orderpriority) FROM day2
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*),
                   COUNT(*) - COUNT(o_orderstatus),
                   COUNT(DISTINCT o_orderstatus) FROM day2
        )
    )
    SELECT pa.col_name,
           CAST(rows_a AS BIGINT) AS rows_a,
           CAST(rows_b AS BIGINT) AS rows_b,
           CAST(null_a AS BIGINT) AS null_a,
           CAST(null_b AS BIGINT) AS null_b,
           CAST(dist_a AS BIGINT) AS dist_a,
           CAST(dist_b AS BIGINT) AS dist_b,
           CAST(null_b * 1000000 // rows_b AS BIGINT) AS null_ppm_b,
           CAST(dist_b - dist_a AS BIGINT) AS dist_delta
    FROM pa JOIN pb USING (col_name)
    ORDER BY col_name
"""


register(QuerySpec(
    name="profile_drift_orders",
    spark_fn=_profile_drift,
    oracle=_PROFILE_DRIFT_ORACLE,
    covers=("profile-drift", "day2-monitoring", "null-rate-drift"),
))

# --- retrieval_negative_samples: deterministic contrastive negatives -----------
#
# (query, positive) pairs synthesized from documents (every 9th doc
# queries for itself -- the self-positive shape of a retrieval
# training set); negatives drawn from the whole corpus by the
# bucket-aligned deterministic sampler (operators/retrieval.py
# sample_negatives: WindowGroupLimit-trimmed pool buckets, one
# equi-join, never query x pool).

_NEG_K, _NEG_BUCKETS = 4, 16


def _retrieval_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import sample_negatives

    docs = load_table(spark, sf_dir, "documents")
    qs = docs.filter(F.col("doc_id") % 9 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("doc_id").alias("positive_id"),
    )
    return sample_negatives(
        qs, docs.select("doc_id"), k=_NEG_K, n_buckets=_NEG_BUCKETS
    ).orderBy("query_id", "neg_rank")


def _retrieval_negatives_oracle() -> str:
    from ..operators.retrieval import sample_negatives_sql

    inner = sample_negatives_sql(
        "SELECT doc_id AS query_id, doc_id AS positive_id"
        " FROM documents WHERE doc_id % 9 = 0",
        "SELECT doc_id FROM documents",
        k=_NEG_K, n_buckets=_NEG_BUCKETS,
    )
    return f"SELECT * FROM ({inner}) ORDER BY query_id, neg_rank"


register(QuerySpec(
    name="retrieval_negative_samples",
    spark_fn=_retrieval_negatives,
    oracle=_retrieval_negatives_oracle,
    covers=("negative-sampling", "contrastive-training-data",
            "bucket-aligned-join"),
))
