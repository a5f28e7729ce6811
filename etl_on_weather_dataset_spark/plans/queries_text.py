"""Text-analysis + dedup queries over the `documents` table
(north-star par.2b operators as first-class registry entries)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_sql,
    simhash_band_pairs,
)
from ..schemas import load_table
from ..session import local_frame
from .registry import QuerySpec, register


# --- exact dedup -------------------------------------------------------------

def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic corpus is dup-free; union a deterministic mutated
    # copy (docs with even id re-appear under a new id) so the operator
    # has real work to do.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return exact_dedup(docs.unionAll(dups))


register(QuerySpec(
    name="dedup_exact_text",
    spark_fn=_exact_dedup,
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text
            FROM documents WHERE doc_id % 2 = 0
        )
        SELECT {T.fingerprint_sql('text')} AS fp,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_dups
        FROM corpus
        GROUP BY 1
    """,
    covers=("dedup-exact",),
    audit=True,
))


# --- n-gram Jaccard near-dup ---------------------------------------------------

_JACCARD_N = 3
_JACCARD_T = 0.2


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=_JACCARD_N, threshold=_JACCARD_T
    ).select("id_a", "id_b", "inter", F.round("jaccard", 6).alias("jaccard"))


register(QuerySpec(
    name="dedup_ngram_jaccard",
    spark_fn=_jaccard_pairs,
    oracle=f"""
        SELECT id_a, id_b, inter, ROUND(jaccard, 6) AS jaccard FROM (
            {ngram_jaccard_pairs_sql('documents', 'text', 'doc_id',
                                     _JACCARD_N, _JACCARD_T)}
        )
    """,
    covers=("dedup-near", "inverted-index-join"),
    audit=True,
    # the inverted-index join is superlinear on bounded-vocabulary
    # corpora (SCALE.md smoke); the 100 TB near-dup path is banded
    # minhash over the same shingle unit
    scale_path="dedup_minhash_lsh",
))


# --- SimHash: guarantee-flag oracle ------------------------------------------
#
# xxhash64 internals have no DuckDB twin, so (round-2 verdict #2) the
# driver row attests the operator's GUARANTEES instead of its raw
# candidate pairs -- the same hash-a-guarantee pattern as the Bloom/HLL
# rows. Both flags are deterministic properties, not empirical luck:
#   - recall on exact duplicates: identical text => identical token
#     multiset => identical SimHash => shares every band => the pair is
#     a candidate, ALWAYS. Injected dups (even doc_ids re-appearing
#     under id+1M, as in dedup_exact_text) must all be found.
#   - band soundness: two fingerprints sharing a 16-bit band (4 bands
#     over 64 bits) agree on those 16 bits, so their Hamming distance
#     is at most 48 -- every candidate pair must satisfy it.
# The raw pair set itself stays pytest-checked (determinism test in
# tests/test_operators.py).

def _simhash_guarantees(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    cand = simhash_band_pairs(docs.unionAll(dups), "text", "doc_id",
                              n_bands=4)
    injected = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    missed = injected.join(cand, ["id_a", "id_b"], "left_anti")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    viol = cand.filter(hamming > 48)
    return (
        injected.agg(F.count(F.lit(1)).alias("n_injected_dup_pairs"))
        .crossJoin(
            missed.agg(F.count(F.lit(1)).alias("n_missed_dup_pairs"))
        )
        .crossJoin(
            viol.agg(F.count(F.lit(1)).alias("n_hamming_violations"))
        )
    )


register(QuerySpec(
    name="dedup_simhash_bands",
    spark_fn=_simhash_guarantees,
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_injected_dup_pairs,
               CAST(0 AS BIGINT) AS n_missed_dup_pairs,
               CAST(0 AS BIGINT) AS n_hamming_violations
        FROM documents WHERE doc_id % 2 = 0
    """,
    covers=("dedup-simhash",),
    audit=True,
))


# --- MinHash LSH: guarantee-flag oracle ---------------------------------------
#
# The minhash internals (xxhash64 signatures, banding) have no SQL
# twin, so the driver row attests the tier's CONTRACT against the
# exact n-gram-Jaccard tier (which IS oracle-computable). The driver
# row attests only guarantees that are DETERMINISTIC BY CONSTRUCTION
# -- true for any corpus the driver regenerates, not just the one we
# tuned on:
#   - precision: every reported pair really has shingle-Jaccard >= 0.2
#     (n_false_pairs = 0). The operator rescores candidates with the
#     EXACT Jaccard, so a reported pair at distance <= 0.8 is a true
#     near-dup, always.
#   - recall floor on exact duplicates: identical text => identical
#     shingle set => identical minhash in EVERY table => the pair is a
#     banded candidate, always. Injected dups (even doc_ids re-appear
#     under id+1M, as in dedup_exact_text) must all be reported
#     (n_missed_injected_pairs = 0).
# FULL recall vs the exact tier (every Jaccard>=0.2 pair caught by the
# banding) is probabilistic per pair (1-(1-j)^4) -- it happens to be
# total on the current synthetic corpora, but a regenerated borderline
# pair could legitimately miss, so that check lives in pytest against
# the PINNED corpus (tests/test_operators.py TestMinhashVsExactJaccard),
# not in the driver row.

_MH_T = 0.2          # shingle-Jaccard near-dup bar (= dedup_ngram_jaccard)


def _minhash_guarantees(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(dups)
    exact = ngram_jaccard_pairs(corpus, "text", "doc_id",
                                n=3, threshold=_MH_T)
    mh = minhash_lsh_pairs(corpus, "text", "doc_id",
                           max_distance=1.0 - _MH_T)
    injected = docs.filter(
        (F.col("doc_id") % 2 == 0) & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    false_pairs = mh.join(exact, ["id_a", "id_b"], "left_anti")
    missed_inj = injected.join(mh, ["id_a", "id_b"], "left_anti")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(
            injected.agg(F.count(F.lit(1)).alias("n_injected_pairs"))
        )
        .crossJoin(
            false_pairs.agg(F.count(F.lit(1)).alias("n_false_pairs"))
        )
        .crossJoin(
            missed_inj.agg(
                F.count(F.lit(1)).alias("n_missed_injected_pairs")
            )
        )
    )


register(QuerySpec(
    name="dedup_minhash_lsh",
    spark_fn=_minhash_guarantees,
    oracle=f"""
        SELECT (
            SELECT CAST(COUNT(*) AS BIGINT) FROM (
                {ngram_jaccard_pairs_sql(
                    '(SELECT doc_id, text FROM documents '
                    'UNION ALL '
                    'SELECT doc_id + 1000000 AS doc_id, text '
                    'FROM documents WHERE doc_id % 2 = 0)',
                    'text', 'doc_id', 3, _MH_T)}
            )
        ) AS n_true_pairs,
        (
            SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id % 2 = 0 AND length(text) > 0
        ) AS n_injected_pairs,
        CAST(0 AS BIGINT) AS n_false_pairs,
        CAST(0 AS BIGINT) AS n_missed_injected_pairs
    """,
    covers=("dedup-minhash-lsh",),
    audit=True,
))


# --- minhash band-cost planner: the rows_per_band dial, attested ---------------
#
# Round-9 continuation of the density-dial work (r8 verdict item 4 /
# SF1.md): the minhash tier's super-linear arm is explained by the
# rows_per_band AND-step, which was a documented-but-manual dial.
# operators/dedup.py minhash_band_cost now PLANS it: the exact
# (pair, band) collision count of the banded join, per r, computed
# from bucket sizes alone (sum c*(c-1)/2 -- never forms a pair), and
# choose_rows_per_band picks the smallest r within a collision
# budget. The xxhash64 signatures have no SQL twin, so the driver row
# attests guarantees that hold by construction on ANY corpus:
#   - plan == join: the planner's collision count exactly equals the
#     band self-join's a<b row count (n_plan_join_diff = 0), per r --
#     the number you budget IS the number the shuffle pays;
#   - recall floor: every injected identical-clone pair shares every
#     bucket at every r (identical docs -> identical signatures), so
#     zero injected pairs are missed (n_missed_injected = 0).

def _minhash_cost_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import (
        _band_keys,
        _minhash_shingles,
        minhash_band_cost,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    clones = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(clones)
    injected = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    # One shingle materialization shared by the planner aggregates
    # AND both band joins (minhash_band_cost's ``shingles``
    # passthrough, round-11) -- previously each loop iteration
    # persisted its own identical copy of the relation.
    sh = _minhash_shingles(corpus, "text", "doc_id", 3, None)
    out: DataFrame | None = None
    for r in (1, 2):
        planned = minhash_band_cost(
            corpus, rows_per_band_options=(r,), shingles=sh
        ).select("rows_per_band", "n_collision_pairs")
        bands = sh.select(
            "id",
            F.posexplode(_band_keys(4, r, 42)).alias("band", "key"),
        )
        collisions = (
            bands.alias("a")
            .join(bands.alias("b"), ["band", "key"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
            )
        )
        cand = collisions.dropDuplicates(["id_a", "id_b"])
        row = (
            planned.crossJoin(
                collisions.agg(F.count(F.lit(1)).alias("n_join"))
            )
            .crossJoin(
                injected.agg(
                    F.count(F.lit(1)).alias("n_injected_pairs")
                )
            )
            .crossJoin(
                injected.join(cand, ["id_a", "id_b"], "left_anti")
                .agg(F.count(F.lit(1)).alias("n_missed_injected"))
            )
            .select(
                "rows_per_band",
                "n_injected_pairs",
                "n_missed_injected",
                F.abs(F.col("n_collision_pairs") - F.col("n_join"))
                .cast("long").alias("n_plan_join_diff"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


register(QuerySpec(
    name="minhash_band_cost_contract",
    spark_fn=_minhash_cost_contract,
    oracle="""
        WITH inj AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM documents
            WHERE doc_id % 5 = 0 AND length(text) > 0
        )
        SELECT CAST(1 AS BIGINT) AS rows_per_band,
               n AS n_injected_pairs,
               CAST(0 AS BIGINT) AS n_missed_injected,
               CAST(0 AS BIGINT) AS n_plan_join_diff
        FROM inj
        UNION ALL
        SELECT CAST(2 AS BIGINT), n, CAST(0 AS BIGINT),
               CAST(0 AS BIGINT)
        FROM inj
    """,
    covers=("minhash-band-cost-planner", "rows-per-band-dial",
            "collision-budget"),
))


# --- incremental exact dedup (cross-batch fingerprint store) ------------------
#
# The operator lands batches and appends fingerprints as side effects
# (operators/dedup.py incremental_exact_dedup), so the driver-facing
# contract is a SCENARIO: two deterministic batches derived from
# `documents` -- batch 1 = doc_id % 3 != 0; batch 2 = the rest plus
# every even-id doc re-appearing under id+1M (cross-batch content
# dups) -- run through a per-invocation temp store. The returned table
# is the audit summary (inputs, landed survivors, store growth); the
# DuckDB twin recomputes it from the same batch split with the same
# fingerprint + null sentinel. The driver-side .count() calls here are
# scenario coordination (O(1) scalars over already-landed parquet),
# not a data path -- the landed datasets themselves stay distributed.

def _incremental_dedup_scenario(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-batch attestation scenario for incremental_exact_dedup.

    The driver-local tempfile store is a deliberate SINGLE-JVM
    assumption: this wrapper exists so the local attestation harness
    can exercise the operator end-to-end. On a cluster the tempdir
    would not be a shared filesystem -- real callers pass the operator
    (which takes caller-provided paths, operators/dedup.py) an
    HDFS/S3/DBFS location, exactly as its docstring requires.
    """
    import shutil
    import tempfile

    from ..operators.dedup import incremental_exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 0).unionAll(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    tmp = tempfile.mkdtemp(prefix="spark_incr_dedup_")
    try:
        store = f"{tmp}/fp_store"
        landed1 = incremental_exact_dedup(
            spark, b1, store, f"{tmp}/out1"
        )
        n1_in, n1_out = b1.count(), landed1.count()
        landed2 = incremental_exact_dedup(
            spark, b2, store, f"{tmp}/out2"
        )
        n2_in, n2_out = b2.count(), landed2.count()
        n_store = spark.read.parquet(store).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        [
            ("batch1", n1_in, n1_out, n1_out),
            ("batch2", n2_in, n2_out, n_store),
        ],
        "batch string, n_input long, n_landed long, n_store_after long",
    )


register(QuerySpec(
    name="dedup_incremental_exact",
    spark_fn=_incremental_dedup_scenario,
    oracle=f"""
        WITH b1 AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
        ), b2 AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text
            FROM documents WHERE doc_id % 2 = 0
        ), f1 AS (
            SELECT COALESCE({T.fingerprint_sql('text')},
                            '__null_text_sentinel__') AS fp
            FROM b1
        ), f2 AS (
            SELECT COALESCE({T.fingerprint_sql('text')},
                            '__null_text_sentinel__') AS fp
            FROM b2
        ), l1 AS (
            SELECT DISTINCT fp FROM f1
        ), l2 AS (
            SELECT DISTINCT fp FROM f2
            WHERE fp NOT IN (SELECT fp FROM l1)
        )
        SELECT 'batch1' AS batch,
               (SELECT COUNT(*) FROM b1) AS n_input,
               (SELECT COUNT(*) FROM l1) AS n_landed,
               (SELECT COUNT(*) FROM l1) AS n_store_after
        UNION ALL
        SELECT 'batch2',
               (SELECT COUNT(*) FROM b2),
               (SELECT COUNT(*) FROM l2),
               (SELECT COUNT(*) FROM l1) + (SELECT COUNT(*) FROM l2)
    """,
    covers=("dedup-incremental", "fingerprint-store"),
    extended=True,  # rotated into the round-4 driver window
))


# --- text statistics / quality scoring ----------------------------------------

def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").alias("len"),
        T.token_count("text").alias("n_tokens"),
        T.distinct_token_count("text").alias("n_distinct"),
        T.stopword_ratio("text").alias("sw_ratio"),
        (F.length("text") == F.col("n_chars")).cast("int").alias("len_ok"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.round(F.avg(F.col("n_distinct") / F.col("n_tokens")), 6).alias(
            "avg_ttr"
        ),
        F.round(F.avg("sw_ratio"), 6).alias("avg_sw_ratio"),
        F.sum("len_ok").alias("n_len_ok"),
    )


register(QuerySpec(
    name="text_quality_stats",
    spark_fn=_text_stats,
    oracle=f"""
        WITH per_doc AS (
            SELECT lang,
                   length(text) AS len,
                   len(regexp_split_to_array(text, ' +')) AS n_tokens,
                   len(list_distinct(regexp_split_to_array(text, ' +')))
                       AS n_distinct,
                   {T.stopword_ratio_sql('text')} AS sw_ratio,
                   CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END
                       AS len_ok
            FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(AVG(n_tokens), 6) AS avg_tokens,
               ROUND(AVG(n_distinct * 1.0 / n_tokens), 6) AS avg_ttr,
               ROUND(AVG(sw_ratio), 6) AS avg_sw_ratio,
               CAST(SUM(len_ok) AS BIGINT) AS n_len_ok
        FROM per_doc
        GROUP BY lang
    """,
    covers=("text-quality", "token-count"),
    audit=True,
))


# --- language-ID heuristic ------------------------------------------------------

def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", T.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


register(QuerySpec(
    name="lang_id_confusion",
    spark_fn=_lang_id,
    oracle=f"""
        SELECT lang, {T.lang_id_sql('text')} AS lang_pred,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """,
    covers=("lang-id",),
))


# --- document fingerprinting -----------------------------------------------------

def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.shingle_fingerprint("text").alias("bag_fp"),
        T.rolling_fingerprint("text").alias("rolling_fp"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
    )


register(QuerySpec(
    name="doc_fingerprints",
    spark_fn=_fingerprints,
    oracle=f"""
        SELECT doc_id,
               {T.fingerprint_sql('text')} AS fp,
               {T.shingle_fingerprint_sql('text')} AS bag_fp,
               {T.rolling_fingerprint_sql('text')} AS rolling_fp,
               CAST({T.bpe_token_count_sql('text')} AS INTEGER)
                   AS n_bpe_tokens
        FROM documents
    """,
    covers=("fingerprint", "rolling-hash", "bpe-tokens"),
))


# --- token chunking (LLM training-data chunker) --------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 50, 40


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.explode(
        T.token_chunks("text", _CHUNK_SIZE, _CHUNK_STRIDE)
    ).alias("c")
    return docs.select("doc_id", c).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size(F.split("c.chunk", " ")).alias("n_chunk_tokens"),
        F.md5(F.col("c.chunk")).alias("chunk_md5"),
    )


register(QuerySpec(
    name="chunk_documents",
    spark_fn=_chunks,
    oracle=f"""
        SELECT doc_id,
               c.chunk_id AS chunk_id,
               CAST(len(string_split(c.chunk, ' ')) AS INTEGER)
                   AS n_chunk_tokens,
               md5(c.chunk) AS chunk_md5
        FROM (
            SELECT doc_id,
                   unnest({T.token_chunks_sql('text', _CHUNK_SIZE,
                                              _CHUNK_STRIDE)}) AS c
            FROM documents
        )
    """,
    covers=("chunking", "udtf-like-explode"),
    audit=True,
))


# --- token histogram (explode + groupBy: the classic corpus wordcount) ----------

def _token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


register(QuerySpec(
    name="token_histogram",
    spark_fn=_token_histogram,
    oracle="""
        SELECT token, COUNT(*) AS n FROM (
            SELECT unnest(regexp_split_to_array(text, ' +')) AS token
            FROM documents
        )
        GROUP BY token
    """,
    covers=("tokenize", "explode"),
))


# --- BM25 lexical retrieval top-k (operators/retrieval.py) -------------------
#
# The sparse-retrieval twin of the ANN tier: corpus stats broadcast
# back as one aggregate row, per-doc tf in-row, TakeOrderedAndProject
# top-k. idf is snapped to micro-nats so Spark/DuckDB ln ulps cannot
# diverge the hash.

_BM25_TERMS = ["spark", "hash", "window"]
_BM25_K = 25


def _bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


def _bm25_oracle() -> str:
    from ..operators.retrieval import bm25_topk_sql

    return bm25_topk_sql("documents", _BM25_TERMS, k=_BM25_K)


register(QuerySpec(
    name="bm25_topk_docs",
    spark_fn=_bm25,
    oracle=_bm25_oracle,
    covers=("bm25-retrieval", "lexical-topk"),
    audit=True,
    extended=True,
))


# --- linear quality classifier scoring (operators/classify.py) ---------------
#
# fastText-style gate in front of pretraining data, run as pure
# codegen: exact BIGINT weight fold per doc, one IEEE division, no
# explode/shuffle/Python. The hashed form is the driver-attested
# query; the explicit-vocabulary form is oracle-checked in pytest.

def _hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_score(docs, "text", "doc_id")


def _hashed_classifier_oracle() -> str:
    from ..operators.classify import hashed_linear_score_sql

    return hashed_linear_score_sql("documents", "text", "doc_id")


register(QuerySpec(
    name="doc_quality_classifier",
    spark_fn=_hashed_classifier,
    oracle=_hashed_classifier_oracle,
    covers=("quality-classifier", "hashing-trick-scoring"),
    audit=True,
    extended=True,
))


_VOCAB_WEIGHTS = {
    "spark": 800, "hash": 350, "merge": 200,
    "slow": -900, "the": -50, "a": -50,
}


def _vocab_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import vocab_linear_score

    docs = load_table(spark, sf_dir, "documents")
    return vocab_linear_score(docs, _VOCAB_WEIGHTS, "text", "doc_id")


def _vocab_classifier_oracle() -> str:
    from ..operators.classify import vocab_linear_score_sql

    return vocab_linear_score_sql("documents", _VOCAB_WEIGHTS,
                                  "text", "doc_id")


register(QuerySpec(
    name="doc_vocab_classifier",
    spark_fn=_vocab_classifier,
    oracle=_vocab_classifier_oracle,
    covers=("quality-classifier", "vocab-weight-scoring"),
    extended=True,
))


# --- incremental NEAR-dup dedup (cross-batch simhash store) -------------------
#
# Same scenario contract as dedup_incremental_exact (two deterministic
# batches through a per-invocation temp store), but for the near-dup
# tier, whose drop rule ("stored neighbor within max_hamming bits")
# depends on xxhash64-based SimHash that DuckDB cannot recompute. The
# attested columns are therefore the STRUCTURAL subset, mirroring the
# guarantee-flag pattern of dedup_simhash_bands:
#   - n_input / n_exact_copy_inputs are content-level values both
#     engines compute exactly (fingerprint membership vs the earlier
#     batch);
#   - n_exact_copies_landed must be 0 (an exact copy has Hamming 0 to
#     a stored fingerprint, and pigeonhole banding at
#     max_hamming <= n_bands - 1 makes the probe's recall total);
#   - n_land_viol / n_drop_viol are brute-force re-audits of every
#     land/drop decision against the full store (attestation-scale
#     crossJoin, not part of the operator), structurally 0.

def _incremental_simhash_scenario(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup import incremental_simhash_dedup, simhash

    max_h = 3
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 0).unionAll(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    fp1 = b1.select(T.fingerprint("text").alias("fp")).distinct()

    tmp = tempfile.mkdtemp(prefix="spark_incr_simhash_")
    try:
        store = f"{tmp}/store"
        incremental_simhash_dedup(
            spark, b1, store, f"{tmp}/o1", max_hamming=max_h
        )
        n1_in = b1.count()
        # snapshot the store BEFORE batch 2 lands: eager
        # localCheckpoint freezes the read executor-side (a lazy scan
        # would see the post-batch-2 files) without a driver
        # round-trip of rows
        store_before = (
            spark.read.parquet(store)
            .select(F.col("simhash").alias("sh_s"))
            .localCheckpoint(eager=True)
        )
        landed2 = incremental_simhash_dedup(
            spark, b2, store, f"{tmp}/o2", max_hamming=max_h
        )
        n2_in = b2.count()
        landed2_sh = spark.read.parquet(f"{tmp}/o2")

        n_copy_in = (
            b2.select(T.fingerprint("text").alias("fp"))
            .join(fp1, "fp", "left_semi")
            .count()
        )
        n_copy_landed = (
            landed2.select(T.fingerprint("text").alias("fp"))
            .join(fp1, "fp", "left_semi")
            .count()
        )
        near = F.bit_count(
            F.col("simhash").bitwiseXOR(F.col("sh_s"))
        ) <= max_h
        n_land_viol = (
            landed2_sh.crossJoin(store_before).filter(near)
            .select("doc_id").distinct().count()
        )
        # recompute the batch's within-batch survivors to identify the
        # cross-batch drops, then confirm each had a real neighbor
        fresh = b2.join(
            simhash(b2).withColumnRenamed("id", "doc_id"), "doc_id"
        )
        keep = fresh.groupBy("simhash").agg(
            F.min("doc_id").alias("doc_id")
        )
        eligible = fresh.join(keep, ["simhash", "doc_id"], "left_semi")
        dropped = eligible.join(landed2, "doc_id", "left_anti")
        n_drop_viol = (
            dropped.join(
                dropped.crossJoin(store_before).filter(near)
                .select("doc_id").distinct(),
                "doc_id", "left_anti",
            ).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        [
            ("batch1", n1_in, 0, 0, 0, 0),
            ("batch2", n2_in, n_copy_in, n_copy_landed,
             n_land_viol, n_drop_viol),
        ],
        "batch string, n_input long, n_exact_copy_inputs long, "
        "n_exact_copies_landed long, n_land_viol long, n_drop_viol long",
    )


register(QuerySpec(
    name="dedup_incremental_simhash",
    spark_fn=_incremental_simhash_scenario,
    oracle=f"""
        WITH b1 AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
        ), b2 AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text
            FROM documents WHERE doc_id % 2 = 0
        )
        SELECT 'batch1' AS batch,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b1) AS n_input,
               CAST(0 AS BIGINT) AS n_exact_copy_inputs,
               CAST(0 AS BIGINT) AS n_exact_copies_landed,
               CAST(0 AS BIGINT) AS n_land_viol,
               CAST(0 AS BIGINT) AS n_drop_viol
        UNION ALL
        SELECT 'batch2',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b2),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b2
                WHERE {T.fingerprint_sql('text')} IN
                      (SELECT {T.fingerprint_sql('text')} FROM b1)),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    """,
    covers=("incremental-near-dup", "simhash-store"),
    extended=True,
))


# --- near-dup threshold sweep ----------------------------------------------------


def _jaccard_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_threshold_sweep

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_threshold_sweep(
        docs, n=3, floor_threshold=0.2, max_doc_freq=0.5
    )


def _jaccard_sweep_oracle() -> str:
    from ..operators.dedup import jaccard_threshold_sweep_sql

    return jaccard_threshold_sweep_sql(
        "documents", n=3, floor_threshold=0.2, max_doc_freq=0.5
    )


register(QuerySpec(
    name="jaccard_threshold_sweep",
    spark_fn=_jaccard_sweep,
    oracle=_jaccard_sweep_oracle,
    covers=("dedup-threshold-calibration", "jaccard-deciles"),
    extended=True,  # round-7 rotation (registry.py)
))


# --- inter-annotator agreement: heuristic lang-ID vs gold labels (round-10) -------
#
# lang_id_confusion draws the confusion matrix; this scores it with
# the statistic an annotation pipeline actually reports: Cohen's
# kappa, the chance-corrected agreement between the n-gram lang-ID
# heuristic and the gold `lang` column. Raw accuracy flatters the
# skewed label mix; kappa subtracts the agreement the two raters'
# marginals would produce by chance (exact integer confusion counts,
# sign-split ppm division -- operators/evaluate.py).

def _lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluate import cohens_kappa

    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        F.col("lang"), T.lang_id("text").alias("lang_pred")
    )
    return cohens_kappa(rated, "lang", "lang_pred")


def _lang_id_kappa_oracle() -> str:
    from ..operators.evaluate import cohens_kappa_sql

    return cohens_kappa_sql(
        f"SELECT lang, {T.lang_id_sql('text')} AS lang_pred"
        " FROM documents",
        "lang", "lang_pred",
    )


register(QuerySpec(
    name="lang_id_kappa",
    spark_fn=_lang_id_kappa,
    oracle=_lang_id_kappa_oracle,
    covers=("cohens-kappa", "inter-annotator-agreement",
            "lang-id-scoring"),
))


# --- PMI collocations (round-10) ---------------------------------------------------

def _pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import pmi_bigrams

    docs = load_table(spark, sf_dir, "documents")
    return pmi_bigrams(docs, min_count=5, top_k=50)


def _pmi_phrases_oracle() -> str:
    from ..operators.corpus import pmi_bigrams_sql

    return pmi_bigrams_sql("documents", min_count=5, top_k=50)


register(QuerySpec(
    name="pmi_bigram_phrases",
    spark_fn=_pmi_phrases,
    oracle=_pmi_phrases_oracle,
    covers=("pmi-collocations", "word2phrase", "tokenizer-prep"),
))


# --- readability by source (round-10) ----------------------------------------------

def _readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.readability_by_group(docs, "source")


register(QuerySpec(
    name="readability_by_source",
    spark_fn=_readability,
    oracle=lambda: T.readability_by_group_sql("documents", "source"),
    covers=("flesch-readability", "quality-scoring",
            "sufficient-statistics-agg"),
))


# --- Borda-count quality ensemble (round-10) ----------------------------------------
#
# hybrid_rrf_topk fuses two RANKED retrieval lists; this is the
# curation-side sibling: fuse three scale-free quality signals over
# the WHOLE corpus by Borda count (operators/retrieval.py
# borda_fuse). The engine derives each signal's competition rank from
# its value-count relation (|distinct values| window, no corpus-wide
# sort); the oracle runs the naive global RANK() windows.

_BORDA_SIGNALS = {
    "n_chars": "desc", "n_tokens": "desc", "n_distinct": "desc",
}
_BORDA_INNER_SQL = """
    SELECT doc_id, n_chars,
           CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT)
               AS n_tokens,
           CAST(len(list_distinct(regexp_split_to_array(text, ' +')))
               AS BIGINT) AS n_distinct
    FROM documents
"""


def _borda_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import borda_fuse

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        T.token_count("text").cast("long").alias("n_tokens"),
        T.distinct_token_count("text").cast("long").alias("n_distinct"),
    )
    return borda_fuse(docs, "doc_id", _BORDA_SIGNALS, k=20)


def _borda_quality_oracle() -> str:
    from ..operators.retrieval import borda_fuse_sql

    return borda_fuse_sql(
        _BORDA_INNER_SQL, "doc_id", _BORDA_SIGNALS, k=20
    )


register(QuerySpec(
    name="borda_quality_fuse",
    spark_fn=_borda_quality,
    oracle=_borda_quality_oracle,
    covers=("borda-rank-aggregation", "quality-ensemble",
            "rank-from-value-counts"),
))


# --- cross-source n-gram novelty (round-10) ----------------------------------------

def _ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import ngram_novelty_by_source

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty_by_source(docs, n=3)


def _ngram_novelty_oracle() -> str:
    from ..operators.corpus import ngram_novelty_by_source_sql

    return ngram_novelty_by_source_sql("documents", n=3)


register(QuerySpec(
    name="ngram_novelty_by_source",
    spark_fn=_ngram_novelty,
    oracle=_ngram_novelty_oracle,
    covers=("cross-source-novelty", "ngram-contamination",
            "mixing-prep"),
))


# --- pairwise quality of the dedup clustering (round-10) ---------------------------
#
# The dedup tiers report PAIRS; nothing evaluated the CLUSTERING they
# induce. cluster_pairwise_eval scores components-at-a-strict-link
# threshold against the exact Jaccard >= 0.8 gold pair set (the
# corpus's planted near-dups live at 0.89-0.99, so link 0.97
# genuinely splits them): precision names transitive-chaining
# inflation, recall names the weak pairs the strict dial loses.

def _dedup_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cluster_pairwise_eval

    docs = load_table(spark, sf_dir, "documents")
    return cluster_pairwise_eval(
        docs, n=3, link_threshold=0.97, gold_threshold=0.8
    )


def _dedup_cluster_eval_oracle() -> str:
    from ..operators.dedup import cluster_pairwise_eval_sql

    return cluster_pairwise_eval_sql(
        "documents", n=3, link_threshold=0.97, gold_threshold=0.8
    )


register(QuerySpec(
    name="dedup_cluster_pairwise_eval",
    spark_fn=_dedup_cluster_eval,
    oracle=_dedup_cluster_eval_oracle,
    covers=("dedup-clustering-eval", "pairwise-precision-recall",
            "transitivity-inflation"),
))


# --- per-source unigram entropy (round-10, extended tier) --------------------------

def _unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import unigram_entropy_by_source

    docs = load_table(spark, sf_dir, "documents")
    return unigram_entropy_by_source(docs)


def _unigram_entropy_oracle() -> str:
    from ..operators.corpus import unigram_entropy_by_source_sql

    return unigram_entropy_by_source_sql("documents")


register(QuerySpec(
    name="unigram_entropy_by_source",
    spark_fn=_unigram_entropy,
    oracle=_unigram_entropy_oracle,
    covers=("shannon-entropy", "corpus-diversity", "template-spam"),
    extended=True,  # r11 rotation candidate
))


# --- pairwise Jensen-Shannon drift matrix (round-10, extended tier) ----------------

def _js_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import js_divergence_matrix

    docs = load_table(spark, sf_dir, "documents")
    return js_divergence_matrix(docs)


def _js_matrix_oracle() -> str:
    from ..operators.corpus import js_divergence_matrix_sql

    return js_divergence_matrix_sql("documents")


register(QuerySpec(
    name="js_divergence_matrix",
    spark_fn=_js_matrix,
    oracle=_js_matrix_oracle,
    covers=("jensen-shannon-matrix", "pairwise-source-drift",
            "shared-token-algebra"),
    extended=True,  # r11 rotation candidate
))


# --- tokenizer fertility by language (round-11) -------------------------------------
#
# The multilingual token-budget dial next to temperature_mixture_plan:
# per (lang, source), bytes / chars / whitespace words / BPE-ish
# tokens plus fertility (tokens per word) and bytes-per-token in
# exact ppm (operators/text.py tokenizer_fertility). One explode-free
# scan; |langs x sources| output rows.

def _tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.tokenizer_fertility(docs).orderBy("lang", "source")


def _tokenizer_fertility_oracle() -> str:
    inner = T.tokenizer_fertility_sql("documents")
    return f"SELECT * FROM ({inner}) ORDER BY lang, source"


register(QuerySpec(
    name="tokenizer_fertility_by_lang",
    spark_fn=_tokenizer_fertility,
    oracle=_tokenizer_fertility_oracle,
    covers=("tokenizer-fertility", "bytes-per-token",
            "multilingual-budget"),
))


# --- token-budget concentration (round-11) ------------------------------------------
#
# Gini + top-1% token share per source (operators/corpus.py
# gini_concentration): the crawl-dominance meter whose remedy is
# per_source_document_cap. Ranks from the value-count relation (the
# exact-AUC trick) -- windows run over |sources x distinct counts|
# rows, never a corpus-grain sort.

def _gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import gini_concentration

    docs = load_table(spark, sf_dir, "documents")
    return gini_concentration(docs).orderBy("source")


def _gini_concentration_oracle() -> str:
    from ..operators.corpus import gini_concentration_sql

    inner = gini_concentration_sql("documents")
    return f"SELECT * FROM ({inner}) ORDER BY source"


register(QuerySpec(
    name="gini_token_concentration",
    spark_fn=_gini_concentration,
    oracle=_gini_concentration_oracle,
    covers=("gini-concentration", "lorenz-top-share",
            "crawl-dominance"),
))


# --- BPE merge-table coverage curve (round-11) --------------------------------------
#
# Top-k adjacent-pair coverage (operators/corpus.py
# vocab_coverage_topk, ngram=2): what share of all pair occurrences
# do the top-k candidate merges absorb -- the merge-table sizing
# dial next to bpe_learned_merges and pmi_bigrams. Ranks from the
# |distinct pairs| vocabulary relation, never corpus grain.

def _bigram_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import vocab_coverage_topk

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage_topk(
        docs, ks=(50, 200, 800), ngram=2
    ).orderBy("k")


def _bigram_merge_coverage_oracle() -> str:
    from ..operators.corpus import vocab_coverage_topk_sql

    inner = vocab_coverage_topk_sql(
        "documents", ks=(50, 200, 800), ngram=2
    )
    return f"SELECT * FROM ({inner}) ORDER BY k"


register(QuerySpec(
    name="bigram_merge_coverage",
    spark_fn=_bigram_merge_coverage,
    oracle=_bigram_merge_coverage_oracle,
    covers=("vocab-coverage-curve", "merge-table-sizing",
            "oov-rate"),
))


# --- character-class mix (round-12) -------------------------------------------

def _char_class_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.char_class_mix(docs, group_col="source")


def _char_class_mix_oracle() -> str:
    return T.char_class_mix_sql("documents", group_col="source")


register(QuerySpec(
    name="char_class_mix_by_source",
    spark_fn=_char_class_mix,
    oracle=_char_class_mix_oracle,
    covers=("char-class-composition", "script-mix-audit",
            "spam-obfuscation-signal"),
))


# --- windowed skip-gram co-occurrence (round-12) ------------------------------
#
# pmi_bigram_phrases scores ADJACENT pairs; this builds the
# symmetric-window co-occurrence cells an embedding trainer
# (word2vec/GloVe) actually consumes: every unordered pair within 4
# tokens, with exact counts and micro-unit GloVe 1/d weights
# (operators/corpus.py skipgram_cooccurrence).

def _skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import skipgram_cooccurrence

    docs = load_table(spark, sf_dir, "documents")
    return skipgram_cooccurrence(
        docs, window=4, min_count=5, top_k=50
    )


def _skipgram_cooc_oracle() -> str:
    from ..operators.corpus import skipgram_cooccurrence_sql

    return skipgram_cooccurrence_sql(
        "documents", window=4, min_count=5, top_k=50
    )


register(QuerySpec(
    name="skipgram_cooccurrence_topk",
    spark_fn=_skipgram_cooc,
    oracle=_skipgram_cooc_oracle,
    covers=("skipgram-cooccurrence", "glove-matrix-build",
            "embedding-training-prep"),
))
