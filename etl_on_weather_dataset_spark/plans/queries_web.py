"""Web-corpus curation tier: URL canonicalization/domain curation and
HTML boilerplate-free text extraction.

A crawl-derived LLM corpus is keyed by URL and arrives as HTML; the
two queries here attest the two curation moves every such pipeline
runs before any text operator sees a byte:

- ``url_domain_curation``: canonical-URL dedup + registered-domain
  stats + blocklist + deterministic per-domain page cap
  (operators/urltools.py). URLs are SYNTHESIZED from ``doc_id``
  arithmetic with identical `||`/CASE expressions in both engines, so
  the oracle is an exact twin of the whole pipeline, not a guarantee
  contract: scheme-case, default-port, fragment, tracking-param,
  param-order and trailing-slash variants all collapse measurably.
- ``html_extraction_contract``: C4-style text extraction -- drop
  <script>/<style> with their contents, strip tags to spaces,
  unescape entities, collapse whitespace -- run over HTML synthesized
  around each document's text (title + nav boilerplate + entity-coded
  glyphs + the text as <p> paragraphs). The synthesis is invertible,
  so the contract pins EXACT recovery per doc (and zero script
  leaks), attested by the same synth+extract twin in DuckDB.

Both stay in whole-stage codegen end to end (string/array
expressions; no UDFs); the per-domain stats groupBy is bounded by the
site key space. The reference has no web surface (single Kaggle CSV,
ETL.py:25-46); this tier is mandated by the BASELINE.json extension
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import html_to_text, html_to_text_sql
from ..operators.urltools import (
    domain_curation_stats,
    domain_curation_stats_sql,
)
from ..schemas import load_table
from ..session import local_frame
from .registry import QuerySpec, register

# --- url_domain_curation -------------------------------------------------------

# Synthesized URL: one expression string valid in BOTH dialects
# (CASE / % / || / integer-to-string coercion agree). CONTENT
# dimensions (subdomain, site, page, real query params) are coarse
# residues; VARIANT dimensions (scheme case, default port, trailing
# slash, tracking params, param order, fragment) are independent
# fine residues -- so the same page arrives under many raw
# spellings and the canonicalizer's collapse is MEASURED by the
# n_urls vs n_canonical gap, not just asserted. The page's real
# query params depend only on the page (content-consistent), so two
# variants of one page always canonicalize identically.
_URL_SYNTH = """
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
    || '://'
    || (CASE doc_id % 5 WHEN 0 THEN 'www.' WHEN 1 THEN 'news.'
                        ELSE '' END)
    || 'site' || (doc_id % 12)
    || (CASE (doc_id % 12) % 5
            WHEN 0 THEN '.com' WHEN 1 THEN '.org'
            WHEN 2 THEN '.co.uk' WHEN 3 THEN '.io'
            ELSE '.com.au' END)
    || (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
    || '/articles/item-' || (doc_id % 7)
    || (CASE WHEN doc_id % 8 >= 4 THEN '/' ELSE '' END)
    || (CASE (doc_id % 7) % 3
            WHEN 0 THEN (CASE WHEN doc_id % 16 < 8 THEN ''
                              ELSE '?utm_source=feed' END)
            WHEN 1 THEN (CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2'
                              ELSE '?b=2&a=1&utm_campaign=x' END)
            ELSE '?id=' || (doc_id % 7) ||
                 (CASE WHEN doc_id % 16 = 3 THEN '&fbclid=abc123'
                       ELSE '' END) END)
    || (CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END)
"""

_BLOCKLIST = ("site3.io", "site5.com", "site4.com.au")
_DOMAIN_CAP = 4


def _url_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SYNTH).alias("url")
    )
    return domain_curation_stats(
        docs, url_col="url", blocklist=_BLOCKLIST, cap=_DOMAIN_CAP
    ).orderBy("domain")


def _url_domain_curation_oracle() -> str:
    inner = domain_curation_stats_sql(
        f"(SELECT doc_id, {_URL_SYNTH} AS url FROM documents)",
        url_sql="url", blocklist=_BLOCKLIST, cap=_DOMAIN_CAP,
    )
    return f"SELECT * FROM ({inner}) ORDER BY domain"


register(QuerySpec(
    name="url_domain_curation",
    spark_fn=_url_domain_curation,
    oracle=_url_domain_curation_oracle,
    covers=("url-canonicalization", "registered-domain",
            "per-domain-cap", "blocklist-filter", "web-dedup-key"),
    audit=True,  # string-codegen throughput headliner
    extended=True,  # round-7 rotation (registry.py)
))

# --- html_extraction_contract ---------------------------------------------------

# HTML synthesized around each doc's text. Invertible by design:
# after script/style removal, tag->space stripping, entity unescape
# and whitespace collapse, the extracted text is EXACTLY
#   'Doc <id> Home | News & Views Doc <id> <text> (c) example'
# while the script/style bodies ('var leak_x', 'color: red') must
# vanish entirely.
_HTML_SYNTH = """
    '<html><head><title>Doc ' || doc_id || '</title>'
    || '<script type="text/javascript">var leak_x = 1 && 2;</script>'
    || '<style>p { color: red; }</style></head>'
    || '<body><div class="nav"><a href="/home">Home</a> | '
    || '<span>News &amp; Views</span></div>'
    || '<h1>Doc ' || doc_id || '</h1>'
    || '<p>' || replace(text, ' ', '</p><p>') || '</p>'
    || '<footer>&#40;c&#41; example</footer></body></html>'
"""

_HTML_EXPECTED = (
    "'Doc ' || doc_id || ' Home | News & Views Doc ' || doc_id"
    " || ' ' || text || ' (c) example'"
)


def _html_extraction_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.expr(_HTML_SYNTH).alias("html")
    )
    ext = docs.select(
        "doc_id",
        F.length("html").cast("long").alias("n_html_chars"),
        html_to_text("html").alias("extracted"),
        F.expr(_HTML_EXPECTED).alias("expected"),
    )
    return ext.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("extracted") == F.col("expected")).cast("int"))
        .cast("long").alias("n_exact_recovered"),
        F.sum(F.col("extracted").contains("leak_x").cast("int"))
        .cast("long").alias("n_script_leaks"),
        F.sum(F.col("extracted").contains("color: red").cast("int"))
        .cast("long").alias("n_style_leaks"),
        F.sum("n_html_chars").cast("long").alias("total_html_chars"),
        F.sum(F.length("extracted")).cast("long")
        .alias("total_text_chars"),
    )


def _html_extraction_oracle() -> str:
    extracted = html_to_text_sql("html")
    return f"""
        WITH synth AS (
            SELECT doc_id, text, {_HTML_SYNTH} AS html FROM documents
        ), ext AS (
            SELECT doc_id,
                   CAST(length(html) AS BIGINT) AS n_html_chars,
                   {extracted} AS extracted,
                   {_HTML_EXPECTED} AS expected
            FROM synth
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN extracted = expected
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_recovered,
               CAST(SUM(CASE WHEN contains(extracted, 'leak_x')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_script_leaks,
               CAST(SUM(CASE WHEN contains(extracted, 'color: red')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_style_leaks,
               CAST(SUM(n_html_chars) AS BIGINT) AS total_html_chars,
               CAST(SUM(length(extracted)) AS BIGINT)
                   AS total_text_chars
        FROM ext
    """


register(QuerySpec(
    name="html_extraction_contract",
    spark_fn=_html_extraction_contract,
    oracle=_html_extraction_oracle,
    covers=("html-text-extraction", "boilerplate-tag-strip",
            "entity-unescape", "c4-style-extraction"),
    extended=True,  # round-7 rotation (registry.py)
))

# --- web_ingest_pipeline_stats: the composed web-ingest flagship ----------------
#
# The fourth composed flagship (after weather ETL, curation, and the
# embedding pipeline): a crawl-shaped ingest run end to end --
#
#   raw (url, html) records
#     -> HTML text extraction        (html_to_text)
#     -> canonical-URL exact dedup   (keep min doc_id per canonical)
#     -> domain blocklist            (registered-domain anti-filter)
#     -> per-domain page cap         (md5-rank, deterministic)
#     -> quality gate                (extracted token count >= min)
#     -> inference batch assignment  (length-bucketed, padded-slot audit)
#
# One row of per-stage counts is the audit trail; the oracle splices
# the per-operator twins into one CTE chain, so the driver hash
# attests the WHOLE composition, not just its parts. Every stage
# before batching is embarrassingly parallel per record; the only
# windows partition by canonical/domain/(shard, bucket).

_WI_CAP = 15          # pages kept per registered domain
_WI_MIN_TOKENS = 40   # quality gate on the EXTRACTED text


def _web_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.batching import length_bucketed_batches
    from ..operators.text import token_count
    from ..operators.urltools import (
        canonical_url,
        registered_domain,
        url_host,
    )

    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.expr(_URL_SYNTH).alias("url"),
        F.expr(_HTML_SYNTH).alias("html"),
    )
    rec = raw.select(
        "doc_id",
        canonical_url("url").alias("canonical"),
        registered_domain(url_host("url")).alias("domain"),
        html_to_text("html").alias("extracted"),
    )
    dedup = rec.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("canonical"))
    ).filter(F.col("doc_id") == F.col("keep_id")).drop("keep_id")
    unblocked = dedup.filter(~F.col("domain").isin(*_BLOCKLIST))
    capped = unblocked.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("domain")
            .orderBy(F.md5("canonical"), "canonical")
        ),
    ).filter(F.col("rn") <= _WI_CAP).drop("rn")
    quality = capped.filter(
        token_count("extracted") >= _WI_MIN_TOKENS
    )
    batches = length_bucketed_batches(
        quality, id_col="doc_id", text_col="extracted",
        batch_size=8, bucket_width=16, shards=4,
    )

    def n(df, alias):
        return df.agg(F.count(F.lit(1)).cast("long").alias(alias))

    batch_stats = batches.agg(
        F.count(F.lit(1)).cast("long").alias("n_batched_docs"),
        F.countDistinct("shard", "bucket", "batch_idx").cast("long")
        .alias("n_batches"),
        F.sum("n_tokens").cast("long").alias("real_tokens"),
        F.sum("pad").cast("long").alias("pad_tokens"),
    )
    chars = quality.agg(
        F.sum(F.length("extracted")).cast("long")
        .alias("extracted_chars")
    )
    return (
        n(raw, "n_raw")
        .crossJoin(F.broadcast(n(dedup, "n_after_url_dedup")))
        .crossJoin(F.broadcast(n(unblocked, "n_after_blocklist")))
        .crossJoin(F.broadcast(n(capped, "n_after_cap")))
        .crossJoin(F.broadcast(n(quality, "n_after_quality")))
        .crossJoin(F.broadcast(chars))
        .crossJoin(F.broadcast(batch_stats))
    )


def _web_ingest_pipeline_oracle() -> str:
    from ..operators.batching import _arm_sql
    from ..operators.text import html_to_text_sql
    from ..operators.urltools import (
        canonical_url_sql,
        registered_domain_sql,
        url_host_sql,
    )

    blocked = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    batched = _arm_sql(
        "quality", "doc_id", "extracted", 8, 16, 4
    )
    return f"""
        WITH raw AS (
            SELECT doc_id, text, {_URL_SYNTH} AS url,
                   {_HTML_SYNTH} AS html
            FROM documents
        ), rec AS (
            SELECT doc_id,
                   {canonical_url_sql('url')} AS canonical,
                   {registered_domain_sql(url_host_sql('url'))} AS domain,
                   {html_to_text_sql('html')} AS extracted
            FROM raw
        ), dedup AS (
            SELECT doc_id, canonical, domain, extracted FROM (
                SELECT *, MIN(doc_id) OVER (PARTITION BY canonical)
                       AS keep_id
                FROM rec
            ) WHERE doc_id = keep_id
        ), unblocked AS (
            SELECT * FROM dedup WHERE domain NOT IN ({blocked})
        ), capped AS (
            SELECT doc_id, canonical, domain, extracted FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY domain
                    ORDER BY md5(canonical), canonical) AS rn
                FROM unblocked
            ) WHERE rn <= {_WI_CAP}
        ), quality AS (
            SELECT * FROM capped
            WHERE len(regexp_split_to_array(extracted, ' +'))
                  >= {_WI_MIN_TOKENS}
        ), batched AS ({batched})
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM raw) AS n_raw,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dedup)
                   AS n_after_url_dedup,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM unblocked)
                   AS n_after_blocklist,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM capped)
                   AS n_after_cap,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM quality)
                   AS n_after_quality,
               (SELECT CAST(SUM(length(extracted)) AS BIGINT)
                FROM quality) AS extracted_chars,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM batched)
                   AS n_batched_docs,
               (SELECT CAST(COUNT(DISTINCT (shard, bucket, batch_idx))
                            AS BIGINT) FROM batched) AS n_batches,
               (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM batched)
                   AS real_tokens,
               (SELECT CAST(SUM(pad) AS BIGINT) FROM batched)
                   AS pad_tokens
    """


register(QuerySpec(
    name="web_ingest_pipeline_stats",
    spark_fn=_web_ingest_pipeline,
    oracle=_web_ingest_pipeline_oracle,
    covers=("composed-web-ingest", "crawl-pipeline-flagship",
            "url-dedup", "domain-cap", "html-extraction",
            "inference-batching"),
    extended=True,  # round-7 rotation (registry.py)
))

# --- pii_prevalence_by_source: the governance report over the scrub -------------
#
# redact_pii (operators/text.py) has been pytest-attested since round
# 2; this query makes the SCRUB ITSELF measurable: per-source match
# counts for each PII class, chars removed by redaction, and the
# residual-match invariant (a post-redaction rescan must find ZERO
# matches -- the number a privacy review reads). PII is synthesized
# into the corpus from doc_id residues (emails / IPs / phone runs),
# so both engines see identical plants and the oracle is exact.

# class residue 7 is COPRIME with the source residue (source is
# doc_id % 20, a multiple of 5 -- a %5 class would pin one PII class
# per source and the report would never mix classes within a row)
_PII_SYNTH = """
    text || (CASE doc_id % 7
        WHEN 0 THEN ' contact bob' || (doc_id % 50)
                    || '@example.com now'
        WHEN 1 THEN ' server at 10.0.' || (doc_id % 256) || '.5 up'
        WHEN 2 THEN ' call +1 555 01' || (100 + doc_id % 100)
                    || ' today'
        ELSE '' END)
"""


def _pii_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import PII_PATTERNS, redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.expr(_PII_SYNTH).alias("ptext")
    )
    counts = [
        F.sum(
            F.size(F.regexp_extract_all("ptext", F.lit(pat), F.lit(0)))
        ).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    residual = F.sum(
        sum(
            (
                F.size(
                    F.regexp_extract_all(
                        "redacted", F.lit(pat), F.lit(0)
                    )
                )
                for _, pat, _ in PII_PATTERNS
            ),
            F.lit(0),
        )
    ).cast("long").alias("residual_matches")
    return (
        docs.withColumn("redacted", redact_pii("ptext"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *counts,
            F.sum(
                F.length("ptext") - F.length("redacted")
            ).cast("long").alias("chars_delta"),
            residual,
        )
        .orderBy("source")
    )


def _pii_prevalence_oracle() -> str:
    from ..operators.text import PII_PATTERNS, redact_pii_sql

    def esc(p: str) -> str:
        return p.replace("'", "''")

    counts = ", ".join(
        f"CAST(SUM(len(regexp_extract_all(ptext, '{esc(pat)}')))"
        f" AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    residual = " + ".join(
        f"len(regexp_extract_all(redacted, '{esc(pat)}'))"
        for _, pat, _ in PII_PATTERNS
    )
    return f"""
        WITH synth AS (
            SELECT source, {_PII_SYNTH} AS ptext FROM documents
        ), red AS (
            SELECT source, ptext,
                   {redact_pii_sql('ptext')} AS redacted
            FROM synth
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {counts},
               CAST(SUM(length(ptext) - length(redacted)) AS BIGINT)
                   AS chars_delta,
               CAST(SUM({residual}) AS BIGINT) AS residual_matches
        FROM red
        GROUP BY source
        ORDER BY source
    """


register(QuerySpec(
    name="pii_prevalence_by_source",
    spark_fn=_pii_prevalence,
    oracle=_pii_prevalence_oracle,
    covers=("pii-prevalence", "privacy-governance-report",
            "redaction-residual-invariant"),
    extended=True,  # round-7 rotation (registry.py)
))


# --- web_ingest_incremental_stats: the day-2 incremental curation flagship -----
#
# Round-7 verdict item 6: every composed flagship so far runs ONE-SHOT
# over a full corpus, while a real 100 TB crawl pipeline runs DAILY --
# batch 2 must dedup against batch 1's PERSISTED state, not against
# batch 1's rows. This scenario runs the web-ingest curation path
# (URL synthesis -> canonicalization -> cross-batch canonical dedup
# through the real fingerprint store, operators/dedup.py:79 -> HTML
# extraction -> token-count quality gate -> per-domain incremental
# rollup store, operators/rollup_store.py:113) over two deterministic
# crawl days, then attests IN THE SAME ROW:
#
#  - the batch-2 funnel (raw -> landed -> quality) against the exact
#    SQL replay of the same split;
#  - incremental == one-shot: the canonical-fp set accumulated in the
#    REAL store after day 2 equals the distinct-canonical set of a
#    one-shot run over day1 UNION day2 (n_fp_mismatch, contractually
#    0 -- computed Spark-side against the persisted store, pinned by
#    the oracle);
#  - the rollup store's day-2 version equals a from-scratch recompute
#    over both days' quality survivors (n_rollup_mismatch, 0) -- the
#    cross-run twin of what rollup_incremental_daily proves within
#    one store.
#
# Day 2 contains genuine new pages (doc_id % 3 = 0) plus RE-CRAWLS of
# every even-id day-1 page: the same URL re-fetched under a fresh
# doc_id (+1M), the duplicate shape a daily crawl actually produces.
# First-seen-wins across days (day-1 landing survives; the re-crawl
# is dropped by the store probe), min-id-wins within a day.
#
# Store scenario contract (same style as dedup_incremental_exact,
# queries_text.py:309): per-invocation tempdir store -- a single-JVM
# attestation-harness assumption; real callers hand the operators an
# HDFS/S3 path. Driver-side .count() calls are O(1) scenario
# coordination over already-landed parquet, not a data path.

def count_rollup_mismatches(agg: DataFrame, recompute: DataFrame) -> int:
    """Domains where the stored rollup disagrees with the recompute.

    Null-SAFE equality (round-8 advice): with plain ==, a domain
    present on only one side of the full_outer join yields NULL
    comparisons, ~NULL is NULL, and the filter would DROP the row --
    so disjoint store/recompute domain sets would count 0 mismatches,
    defeating the invariant. eqNullSafe makes a one-sided domain
    compare as unequal and count.
    """
    return (
        agg.join(recompute, "domain", "full_outer")
        .filter(
            ~(
                F.col("n_rows").eqNullSafe(F.col("r_n"))
                & F.col("sum_c").eqNullSafe(F.col("r_s"))
                & F.col("sum2_c").eqNullSafe(F.col("r_s2"))
            )
        )
        .count()
    )


def _wi_batches(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two deterministic crawl days (shared by the contract
    query and the plan provider)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SYNTH).alias("url"),
        F.expr(_HTML_SYNTH).alias("html"),
    )
    day1 = docs.filter(F.col("doc_id") % 3 != 0)
    recrawl = day1.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "url", "html"
    )
    day2 = docs.filter(F.col("doc_id") % 3 == 0).unionAll(recrawl)
    return day1, day2


def _wi_enrich(batch: DataFrame) -> DataFrame:
    from ..operators.urltools import (
        canonical_url,
        registered_domain,
        url_host,
    )

    return batch.select(
        "doc_id", "url", "html",
        canonical_url("url").alias("canonical"),
        registered_domain(url_host("url")).alias("domain"),
    )


def _wi_quality(landed: DataFrame) -> DataFrame:
    from ..operators.text import token_count

    return landed.select(
        "doc_id", "domain",
        token_count(html_to_text("html")).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= _WI_MIN_TOKENS)


def _web_ingest_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup import incremental_exact_dedup
    from ..operators.rollup_store import incremental_rollup, read_rollup
    from ..operators.text import fingerprint

    day1, day2 = _wi_batches(spark, sf_dir)
    enrich, quality = _wi_enrich, _wi_quality

    tmp = tempfile.mkdtemp(prefix="spark_web_incr_")
    try:
        fp_store = f"{tmp}/fp_store"
        roll_store = f"{tmp}/rollup"
        stats: dict[str, int] = {}
        quals = []
        for day, batch in (("d1", day1), ("d2", day2)):
            landed = incremental_exact_dedup(
                spark, enrich(batch), fp_store, f"{tmp}/out_{day}",
                text_col="canonical",
            )
            q = quality(landed)
            incremental_rollup(
                spark, q, roll_store, batch_id=day,
                key_cols=["domain"], value_col="n_tokens",
                value_scale=1,
            )
            stats[f"n_raw_{day}"] = batch.count()
            stats[f"n_landed_{day}"] = landed.count()
            stats[f"n_quality_{day}"] = q.count()
            quals.append(q)

        # incremental == one-shot: the REAL store's fp set after day 2
        # vs the distinct canonical fps of a one-shot run over the
        # union (first-seen/min-id differ per-row, but the CONTENT set
        # -- which canonicals survive -- must be identical)
        store_fps = (
            spark.read.parquet(fp_store).select("fp").distinct()
        )
        oneshot_fps = (
            enrich(day1.unionAll(day2))
            .select(fingerprint("canonical").alias("fp"))
            .distinct()
        )
        n_oneshot = oneshot_fps.count()
        n_fp_mismatch = (
            store_fps.join(oneshot_fps, "fp", "left_anti").count()
            + oneshot_fps.join(store_fps, "fp", "left_anti").count()
        )

        # rollup store day-2 version == from-scratch recompute over
        # both days' quality survivors
        agg, _, version = read_rollup(spark, roll_store)
        recompute = (
            quals[0].unionAll(quals[1])
            .groupBy("domain")
            .agg(
                F.count(F.lit(1)).alias("r_n"),
                F.sum("n_tokens").alias("r_s"),
                F.sum(F.col("n_tokens") * F.col("n_tokens"))
                .alias("r_s2"),
            )
        )
        n_rollup_mismatch = count_rollup_mismatches(agg, recompute)
        row = (
            stats["n_raw_d1"], stats["n_landed_d1"],
            stats["n_quality_d1"],
            stats["n_raw_d2"], stats["n_landed_d2"],
            stats["n_quality_d2"],
            n_oneshot, n_fp_mismatch,
            version, agg.count(),
            n_rollup_mismatch,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark, [row],
        "n_raw_d1 long, n_landed_d1 long, n_quality_d1 long, "
        "n_raw_d2 long, n_landed_d2 long, n_quality_d2 long, "
        "n_oneshot long, n_fp_mismatch long, "
        "rollup_version long, n_domains long, n_rollup_mismatch long",
    )


def _web_ingest_incremental_plans(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """Plan-audit provider (round-8 verdict item 3): materialize the
    day-1 store state into a tempdir, then return the UNEXECUTED
    day-2 plans -- the store probe (anti-join on fp), the rollup
    merge (batch partial-agg + full-outer key merge), and the
    incremental==one-shot fp verification join -- so PLANS.md shows
    the scenario's real shuffle/join shapes instead of the one-row
    summary's LocalTableScan."""
    import atexit
    import shutil
    import tempfile

    from ..operators.dedup import batch_dedup_plan, incremental_exact_dedup
    from ..operators.rollup_store import (
        incremental_rollup,
        read_rollup,
        rollup_merge_plan,
    )
    from ..operators.text import fingerprint

    day1, day2 = _wi_batches(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="spark_web_planaudit_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    fp_store = f"{tmp}/fp_store"
    roll_store = f"{tmp}/rollup"
    landed1 = incremental_exact_dedup(
        spark, _wi_enrich(day1), fp_store, f"{tmp}/out_d1",
        text_col="canonical",
    )
    incremental_rollup(
        spark, _wi_quality(landed1), roll_store, batch_id="d1",
        key_cols=["domain"], value_col="n_tokens", value_scale=1,
    )
    store_fps = spark.read.parquet(fp_store)
    agg, _, _ = read_rollup(spark, roll_store)
    day2_probe = batch_dedup_plan(
        _wi_enrich(day2), store_fps, text_col="canonical",
        id_col="doc_id",
    )
    merge = rollup_merge_plan(
        _wi_quality(day2_probe), agg, key_cols=["domain"],
        value_col="n_tokens", value_scale=1,
    )
    oneshot_fps = (
        _wi_enrich(day1.unionAll(day2))
        .select(fingerprint("canonical").alias("fp"))
        .distinct()
    )
    fp_verify = (
        store_fps.select("fp").distinct()
        .join(oneshot_fps, "fp", "left_anti")
    )
    return {
        "day2_store_probe": day2_probe,
        "rollup_merge": merge,
        "fp_verify": fp_verify,
    }


def _web_ingest_incremental_oracle() -> str:
    from ..operators.text import fingerprint_sql
    from ..operators.urltools import (
        canonical_url_sql,
        registered_domain_sql,
        url_host_sql,
    )

    return f"""
        WITH docs AS (
            SELECT doc_id, {_URL_SYNTH} AS url, {_HTML_SYNTH} AS html
            FROM documents
        ), d1 AS (
            SELECT * FROM docs WHERE doc_id % 3 != 0
        ), d2 AS (
            SELECT * FROM docs WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, url, html
            FROM docs WHERE doc_id % 3 != 0 AND doc_id % 2 = 0
        ), e1 AS (
            SELECT doc_id, html,
                   {fingerprint_sql(canonical_url_sql('url'))} AS fp,
                   {registered_domain_sql(url_host_sql('url'))}
                       AS domain
            FROM d1
        ), e2 AS (
            SELECT doc_id, html,
                   {fingerprint_sql(canonical_url_sql('url'))} AS fp,
                   {registered_domain_sql(url_host_sql('url'))}
                       AS domain
            FROM d2
        ), l1 AS (
            -- day 1 landing: min-id per canonical within the day
            SELECT * FROM (
                SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS k
                FROM e1
            ) WHERE doc_id = k
        ), l2 AS (
            -- day 2 landing: min-id within the day, then the store
            -- probe (canonical unseen on day 1)
            SELECT * FROM (
                SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS k
                FROM e2
            ) WHERE doc_id = k
              AND fp NOT IN (SELECT fp FROM l1)
        ), q1 AS (
            SELECT domain, n_tokens FROM (
                SELECT domain,
                       len(regexp_split_to_array(
                           {html_to_text_sql('html')}, ' +'))
                           AS n_tokens
                FROM l1
            ) WHERE n_tokens >= {_WI_MIN_TOKENS}
        ), q2 AS (
            SELECT domain, n_tokens FROM (
                SELECT domain,
                       len(regexp_split_to_array(
                           {html_to_text_sql('html')}, ' +'))
                           AS n_tokens
                FROM l2
            ) WHERE n_tokens >= {_WI_MIN_TOKENS}
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM d1) AS n_raw_d1,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM l1) AS n_landed_d1,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM q1) AS n_quality_d1,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM d2) AS n_raw_d2,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM l2) AS n_landed_d2,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM q2) AS n_quality_d2,
            (SELECT CAST(COUNT(DISTINCT fp) AS BIGINT)
             FROM (SELECT fp FROM e1 UNION ALL SELECT fp FROM e2))
                AS n_oneshot,
            -- contractual invariants: computed Spark-side against the
            -- REAL persisted stores; the oracle pins their value
            CAST(0 AS BIGINT) AS n_fp_mismatch,
            CAST(2 AS BIGINT) AS rollup_version,
            (SELECT CAST(COUNT(DISTINCT domain) AS BIGINT)
             FROM (SELECT domain FROM q1
                   UNION ALL SELECT domain FROM q2)) AS n_domains,
            CAST(0 AS BIGINT) AS n_rollup_mismatch
    """


register(QuerySpec(
    name="web_ingest_incremental_stats",
    spark_fn=_web_ingest_incremental,
    oracle=_web_ingest_incremental_oracle,
    covers=("day2-incremental-curation", "fingerprint-store",
            "rollup-store", "incremental-equals-oneshot",
            "crawl-recrawl-dedup"),
    audit=True,  # THE daily-cadence shape a 100 TB crawl runs
    # the plan audit explains the scenario's inner plans (r8 verdict
    # item 3)
    plan_fn=_web_ingest_incremental_plans,
))
