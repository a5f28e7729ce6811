"""Text-analysis operators over a documents table (north-star par.2b).

All hot-path expressions are built-in `pyspark.sql.functions` (JVM,
whole-stage codegen) -- no Python UDFs. Every helper has SQL-portable
semantics so the DuckDB oracle can mirror it exactly.

Operators:
- tokenization + token counting (whitespace split; BPE-ish regex split)
- quality scoring (length / punctuation / stopword ratios,
  type-token ratio)
- language-ID (marker-n-gram heuristic, deterministic argmax)
- document fingerprinting (md5 of normalized text; order-insensitive
  shingle fingerprint)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = " +"
# BPE-ish pre-tokenization: extract word runs and standalone
# punctuation as separate tokens (approximates a byte-pair
# pre-tokenizer's word split). Uses regexp_extract_all, not
# lookaround splits -- RE2 (DuckDB) has no lookahead, and this form is
# portable to both engines.
BPE_TOKEN_RE = r"\w+|[^\w\s]"

STOPWORDS = ["the", "a"]

# Marker n-grams per language for the heuristic language-ID.
# Count of marker occurrences is computed with the replace-length trick
# ((len(s) - len(replace(s, m, ''))) / len(m)) -- portable to any SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " a "],
    "de": [" der ", " und "],
    "es": [" el ", " que "],
    "fr": [" le ", " et "],
}
LANG_FALLBACK = "unk"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, TOKEN_SPLIT_RE)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def bpe_token_count(text: Column | str) -> Column:
    """Token count under BPE-ish pre-tokenization (word runs +
    standalone punctuation), the LLM-pipeline notion of 'tokens'."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))


def bpe_token_count_sql(col_sql: str) -> str:
    return f"len(regexp_extract_all({col_sql}, '{BPE_TOKEN_RE}'))"


# Rolling-hash document fingerprint: polynomial hash over the token
# stream (order-sensitive, unlike the bag-of-words fingerprint). The
# per-token value uses only portable primitives (first-char code +
# length) so engine and oracle agree.
# base/mod sized so acc*base + val stays far below 2^63: DuckDB BIGINT
# overflow is an error (not a wrap), so intermediate values must fit
_RH_BASE = 31
_RH_MOD = 2147483647  # 2^31 - 1


def rolling_fingerprint(text: Column | str) -> Column:
    toks = tokens(text)
    tok_val = lambda t: (  # noqa: E731
        F.ascii(F.substring(t, 1, 1)).cast("long") * 256 + F.length(t)
    )
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * _RH_BASE + tok_val(t)) % _RH_MOD,
    )


def rolling_fingerprint_sql(col_sql: str) -> str:
    arr = f"regexp_split_to_array({col_sql}, ' +')"
    tok_val = "(ascii(t[1]) * 256 + length(t))"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({arr}, t -> CAST({tok_val} AS BIGINT))), "
        f"(acc, v) -> (acc * {_RH_BASE} + v) % {_RH_MOD})"
    )


def marker_count(text: Column | str, marker: str) -> Column:
    """Occurrences of ``marker`` in text via the replace-length trick."""
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.replace(c, F.lit(marker), F.lit("")))) / F.lit(
        len(marker)
    )


def marker_count_sql(col_sql: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"(length({col_sql}) - length(replace({col_sql}, '{m}', '')))"
        f" / {len(marker)}"
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are stopwords (JVM-side, via filter on
    the token array -- no explode, no shuffle)."""
    toks = tokens(text)
    stops = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))
    )
    return stops / F.size(toks)


def stopword_ratio_sql(col_sql: str) -> str:
    inlist = ", ".join(f"'{s}'" for s in STOPWORDS)
    arr = f"regexp_split_to_array({col_sql}, ' +')"
    return (
        f"(len(list_filter({arr}, t -> t IN ({inlist}))) * 1.0"
        f" / len({arr}))"
    )


def lang_id(text: Column | str) -> Column:
    """Heuristic language-ID: argmax of marker-n-gram counts, ties and
    all-zero scores -> '{fallback}' deterministic.

    Padded (' '||text||' ') so edge tokens match. This is the classic
    n-gram-profile approach collapsed to a few high-signal markers so
    it stays a pure Catalyst expression.
    """
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    scores = {
        lang: sum(
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
            / F.lit(len(m))
            for m in markers
        )
        for lang, markers in LANG_MARKERS.items()
    }
    # Deterministic argmax: iterate langs in sorted order, keep first max.
    best_lang = F.lit(LANG_FALLBACK)
    best_score = F.lit(0.0)
    for lang in sorted(LANG_MARKERS):
        s = scores[lang]
        better = s > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s).otherwise(best_score)
    return best_lang


def lang_id_sql(col_sql: str) -> str:
    padded = f"(' ' || {col_sql} || ' ')"
    score_sqls = {
        lang: " + ".join(marker_count_sql(padded, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    # Same deterministic fold as lang_id(): sorted langs, strict >.
    expr = f"'{LANG_FALLBACK}'"
    score_expr = "0.0"
    for lang in sorted(LANG_MARKERS):
        s = f"({score_sqls[lang]})"
        expr = f"CASE WHEN {s} > {score_expr} THEN '{lang}' ELSE {expr} END"
        score_expr = f"(CASE WHEN {s} > {score_expr} THEN {s} ELSE {score_expr} END)"
    return expr


def fingerprint(text: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def fingerprint_sql(col_sql: str) -> str:
    return f"md5(regexp_replace(lower(trim({col_sql})), '\\s+', ' ', 'g'))"


def token_chunks(
    text: Column | str, size: int = 50, stride: int = 40
) -> Column:
    """Split a document into overlapping token chunks (the LLM-
    training chunking operator): chunk i covers tokens
    [i*stride, i*stride + size), for every i with i*stride < n_tokens.

    Returns array<struct<chunk_id int, chunk string>> -- explode it to
    get one row per chunk. Pure array expressions: per-row compute, no
    shuffle; at 100 TB chunking parallelizes embarrassingly.
    """
    toks = tokens(text)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    return F.transform(
        starts,
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.array_join(F.slice(toks, i * stride + 1, size), " ").alias(
                "chunk"
            ),
        ),
    )


def token_chunks_sql(col_sql: str, size: int = 50, stride: int = 40) -> str:
    """DuckDB twin of token_chunks: unnest this over each row.

    Emits structs {chunk_id, chunk}; slice bounds are inclusive in
    DuckDB (t[a:b]), hence the -1."""
    arr = f"regexp_split_to_array({col_sql}, ' +')"
    return (
        f"list_transform(range(0, CAST(floor((len({arr}) - 1) / {stride})"
        f" AS INT) + 1), i -> struct_pack(chunk_id := CAST(i AS INT), "
        f"chunk := array_to_string(({arr})[i*{stride}+1 : "
        f"i*{stride}+{size}], ' ')))"
    )


# Gopher-style document quality thresholds (Rae et al. 2021, publicly
# documented heuristics; also used by RefinedWeb/Dolma-class pipelines)
QUALITY_MIN_WORDS = 50
QUALITY_MAX_WORDS = 100_000
QUALITY_MIN_MEAN_WORD_LEN = 3.0
QUALITY_MAX_MEAN_WORD_LEN = 10.0
QUALITY_MAX_SYMBOL_RATIO = 0.1
QUALITY_MIN_ALPHA_WORD_RATIO = 0.8
QUALITY_MIN_STOPWORDS = 2


def quality_flags(text: Column | str) -> Column:
    """Gopher-style quality gates as a struct of int flags + overall.

    All pure array/string expressions (codegen, no shuffle): word-count
    bounds, mean word length bounds, symbol-to-word ratio ('#'/'...'),
    fraction of words containing an alphabetic character, minimum
    stopword count. ``quality_pass`` is the AND of all gates -- the
    filter a pretraining pipeline applies before tokenization.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks)
    mean_len = (
        F.aggregate(
            toks, F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t),
        ) / n
    )
    symbols = marker_count(c, "#") + marker_count(c, "...")
    alpha_frac = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ) / n
    stop_n = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    flags = {
        "words_ok": (n >= QUALITY_MIN_WORDS) & (n <= QUALITY_MAX_WORDS),
        "word_len_ok": (mean_len >= QUALITY_MIN_MEAN_WORD_LEN)
        & (mean_len <= QUALITY_MAX_MEAN_WORD_LEN),
        "symbol_ok": symbols / n <= QUALITY_MAX_SYMBOL_RATIO,
        "alpha_ok": alpha_frac >= QUALITY_MIN_ALPHA_WORD_RATIO,
        "stopword_ok": stop_n >= QUALITY_MIN_STOPWORDS,
    }
    overall = None
    for f in flags.values():
        overall = f if overall is None else (overall & f)
    return F.struct(
        *[v.cast("int").alias(k) for k, v in flags.items()],
        overall.cast("int").alias("quality_pass"),
    )


def quality_flags_sql(col_sql: str) -> dict[str, str]:
    """DuckDB twins of quality_flags, one expression per flag
    (returned as a dict so callers can project them as columns)."""
    arr = f"regexp_split_to_array({col_sql}, ' +')"
    n = f"len({arr})"
    mean_len = (
        f"(list_sum(list_transform({arr}, t -> length(t))) * 1.0 / {n})"
    )
    symbols = (
        f"({marker_count_sql(col_sql, '#')}"
        f" + {marker_count_sql(col_sql, '...')})"
    )
    alpha_frac = (
        f"(len(list_filter({arr}, t -> regexp_matches(t, '[a-zA-Z]')))"
        f" * 1.0 / {n})"
    )
    inlist = ", ".join(f"'{s}'" for s in STOPWORDS)
    stop_n = f"len(list_filter({arr}, t -> t IN ({inlist})))"
    flags = {
        "words_ok": f"({n} >= {QUALITY_MIN_WORDS}"
                    f" AND {n} <= {QUALITY_MAX_WORDS})",
        "word_len_ok": f"({mean_len} >= {QUALITY_MIN_MEAN_WORD_LEN}"
                       f" AND {mean_len} <= {QUALITY_MAX_MEAN_WORD_LEN})",
        "symbol_ok": f"({symbols} * 1.0 / {n} <= {QUALITY_MAX_SYMBOL_RATIO})",
        "alpha_ok": f"({alpha_frac} >= {QUALITY_MIN_ALPHA_WORD_RATIO})",
        "stopword_ok": f"({stop_n} >= {QUALITY_MIN_STOPWORDS})",
    }
    overall = " AND ".join(flags.values())
    return {
        **{k: f"CAST({v} AS INTEGER)" for k, v in flags.items()},
        "quality_pass": f"CAST(({overall}) AS INTEGER)",
    }


# PII patterns: RE2-compatible (no lookarounds) so the DuckDB oracle
# runs the identical regexes. Ordering matters: emails before generic
# digit runs, IPs before phone-ish digit groups.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\+?\d[\d -]{7,14}\d\b", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails / IPs / phone-like digit runs with typed
    placeholder tokens -- the standard pre-training privacy scrub.
    Chained regexp_replace: pure codegen, per-row, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pattern, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, repl)
    return c


def redact_pii_sql(col_sql: str) -> str:
    expr = col_sql
    for _, pattern, repl in PII_PATTERNS:
        # DuckDB string literals keep backslashes literal -- only
        # quotes need escaping
        p = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return expr


def shingle_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set (bag-of-words identity)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def shingle_fingerprint_sql(col_sql: str) -> str:
    arr = f"regexp_split_to_array({col_sql}, ' +')"
    return f"md5(array_to_string(list_sort(list_distinct({arr})), ' '))"


# --- HTML text extraction (C4-style) ------------------------------------------

# Entity unescape order matters: '&amp;' must decode LAST or
# '&amp;lt;' would double-decode -- the standard unescape discipline.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&#40;", "("), ("&#41;", ")"), ("&nbsp;", " "), ("&amp;", "&"),
)
_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_TAG_RE = r"<[^>]*>"


def html_to_text(html: Column | str) -> Column:
    """C4-style text extraction from an HTML column, pure codegen:

    1. remove ``<script>``/``<style>`` elements WITH their contents
       (non-greedy, case-insensitive, dotall -- RE2-portable inline
       flags, no lookaround);
    2. strip every remaining tag to a single space (block boundaries
       must separate words, not concatenate them);
    3. unescape the common entities (:data:`HTML_ENTITIES`, ``&amp;``
       last);
    4. collapse space runs and trim.

    Visible text survives (including nav/footer boilerplate --
    removing THAT is the job of the cross-doc boilerplate operator,
    ``corpus.remove_boilerplate_lines``); script/style bodies never
    reach the corpus. No UDFs: at 100 TB this runs inside
    whole-stage codegen on the scan.
    """
    c = F.col(html) if isinstance(html, str) else html
    c = F.regexp_replace(c, _SCRIPT_RE, " ")
    c = F.regexp_replace(c, _STYLE_RE, " ")
    c = F.regexp_replace(c, _TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, " +", " "))


def html_to_text_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`html_to_text` (same four passes; 'g'
    option because DuckDB's regexp_replace is first-match by
    default, where Spark's is global)."""
    expr = col_sql
    for pat in (_SCRIPT_RE, _STYLE_RE, _TAG_RE):
        expr = f"regexp_replace({expr}, '{pat}', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        e = ent.replace("'", "''")
        c = ch.replace("'", "''")
        expr = f"replace({expr}, '{e}', '{c}')"
    return f"trim(regexp_replace({expr}, ' +', ' ', 'g'))"


# --- SFT chat-template rendering / parsing -------------------------------------
#
# The serialization boundary every SFT pipeline crosses: (prompt,
# response) pairs are rendered into a single templated string for
# tokenization, and the loss mask must cover EXACTLY the assistant
# span. Pure string codegen in both engines; the round-trip contract
# (parse(render(p, r)) == (p, r), template markers never leak into
# content) is what the registry query attests, same invertibility
# discipline as html_extraction_contract.

CHAT_USER = "<|user|>\n"
CHAT_ASSISTANT = "\n<|assistant|>\n"
CHAT_END = "\n<|end|>"
# (?s): content may contain newlines (multi-line prompts/responses
# are the norm in SFT data). Lazy prompt group: the prompt ends at
# the FIRST assistant marker, so parsing is deterministic for any
# content that does not itself contain the markers -- and content
# that does is exactly what the round-trip contract counts as a
# failure (n_marker_leaks).
_CHAT_RE = r"(?s)^<\|user\|>\n(.*?)\n<\|assistant\|>\n(.*)\n<\|end\|>$"


def render_chat(
    prompt: Column | str, response: Column | str
) -> Column:
    """Render one (prompt, response) pair into the chat template."""
    p = F.col(prompt) if isinstance(prompt, str) else prompt
    r = F.col(response) if isinstance(response, str) else response
    return F.concat(
        F.lit(CHAT_USER), p, F.lit(CHAT_ASSISTANT), r, F.lit(CHAT_END)
    )


def render_chat_sql(prompt_sql: str, response_sql: str) -> str:
    return (
        f"'<|user|>' || chr(10) || {prompt_sql}"
        f" || chr(10) || '<|assistant|>' || chr(10)"
        f" || {response_sql} || chr(10) || '<|end|>'"
    )


def parse_chat(rendered: Column | str) -> Column:
    """Inverse of :func:`render_chat`:
    struct(prompt, response, mask_start, mask_len) where
    [mask_start, mask_start + mask_len) is the 1-based character span
    the loss mask covers (the response inside the rendered string).
    An unparseable string yields empty prompt AND response (regexes
    that don't match extract '' in both engines) -- callers count
    those via the round-trip check, not via nulls.
    """
    c = F.col(rendered) if isinstance(rendered, str) else rendered
    prompt = F.regexp_extract(c, _CHAT_RE, 1)
    response = F.regexp_extract(c, _CHAT_RE, 2)
    mask_start = (
        F.lit(len(CHAT_USER))
        + F.length(prompt)
        + F.lit(len(CHAT_ASSISTANT))
        + F.lit(1)
    ).cast("long")
    return F.struct(
        prompt.alias("prompt"),
        response.alias("response"),
        mask_start.alias("mask_start"),
        F.length(response).cast("long").alias("mask_len"),
    )


def parse_chat_sql(rendered_sql: str) -> dict[str, str]:
    """DuckDB twins of the parse_chat struct fields (DuckDB regexp
    escapes: the pattern string doubles the backslashes)."""
    pat = ("'(?s)^<\\|user\\|>\\n(.*?)\\n<\\|assistant\\|>"
           "\\n(.*)\\n<\\|end\\|>$'")
    prompt = f"regexp_extract({rendered_sql}, {pat}, 1)"
    response = f"regexp_extract({rendered_sql}, {pat}, 2)"
    return {
        "prompt": prompt,
        "response": response,
        "mask_start": (
            f"CAST({len(CHAT_USER)} + length({prompt})"
            f" + {len(CHAT_ASSISTANT)} + 1 AS BIGINT)"
        ),
        "mask_len": f"CAST(length({response}) AS BIGINT)",
    }


# --- readability (Flesch reading-ease, integer-milli form) --------------------------

READ_SENT_RE = "[.!?]+"
READ_VOWEL_RE = "[aeiou]+"


def readability_counts(text: Column | str) -> list[Column]:
    """Per-doc readability raw counts: words, sentences (runs of
    sentence-ending punctuation, floored at 1 so an unpunctuated doc
    counts as one sentence), and vowel groups (the classic
    syllable-count proxy: one syllable nucleus per maximal vowel
    run). These are the SUFFICIENT STATISTICS for Flesch reading
    ease -- keep them additive and compute the score on the
    aggregate, never average per-doc scores."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        token_count(c).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(c, F.lit(READ_SENT_RE), F.lit(0))),
        ).cast("long").alias("n_sentences"),
        F.size(
            F.regexp_extract_all(F.lower(c), F.lit(READ_VOWEL_RE), F.lit(0))
        ).cast("long").alias("n_syllables"),
    ]


def readability_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading ease per group, exact-integer milli form
    (Flesch 1948: 206.835 - 1.015 * words/sentence - 84.6 *
    syllables/word). A corpus-quality dial: sources whose score
    collapses are word salad or boilerplate, not prose.

    Exactness discipline: each doc contributes three BIGINT counts
    (one map-side-combinable aggregate, no floats at data grain);
    the score is computed from the group SUMS with truncating
    integer division in milli units -- identical in Spark (``div``)
    and DuckDB (``//``) since every intermediate ratio is
    non-negative (the final score is a pure subtraction and may go
    negative, which both engines represent identically).

    Output per group: n_docs, n_words, n_sentences, n_syllables,
    words_per_sentence_milli, syllables_per_word_milli,
    flesch_milli.
    """
    per_doc = df.select(
        F.col(group_col).alias("grp"), *readability_counts(text_col)
    )
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_sentences").cast("long").alias("n_sentences"),
        F.sum("n_syllables").cast("long").alias("n_syllables"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs", "n_words", "n_sentences", "n_syllables",
        F.expr("n_words * 1000 div n_sentences")
        .alias("words_per_sentence_milli"),
        F.expr("n_syllables * 1000 div n_words")
        .alias("syllables_per_word_milli"),
        F.expr(
            "206835 - (1015 * (n_words * 1000 div n_sentences))"
            " div 1000"
            " - (84600 * (n_syllables * 1000 div n_words)) div 1000"
        ).cast("long").alias("flesch_milli"),
    )


def readability_by_group_sql(
    table: str,
    group_col: str,
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`readability_by_group` (same counts,
    same milli integer divisions)."""
    return f"""
        WITH per_doc AS (
            SELECT {group_col} AS grp,
                   CAST(len(regexp_split_to_array({text_col}, ' +'))
                        AS BIGINT) AS n_words,
                   CAST(GREATEST(1, len(regexp_extract_all(
                        {text_col}, '{READ_SENT_RE}'))) AS BIGINT)
                       AS n_sentences,
                   CAST(len(regexp_extract_all(lower({text_col}),
                        '{READ_VOWEL_RE}')) AS BIGINT) AS n_syllables
            FROM {table}
        ), agg AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS n_words,
                   CAST(SUM(n_sentences) AS BIGINT) AS n_sentences,
                   CAST(SUM(n_syllables) AS BIGINT) AS n_syllables
            FROM per_doc GROUP BY grp
        )
        SELECT grp AS {group_col},
               n_docs, n_words, n_sentences, n_syllables,
               n_words * 1000 // n_sentences
                   AS words_per_sentence_milli,
               n_syllables * 1000 // n_words
                   AS syllables_per_word_milli,
               CAST(206835
                    - (1015 * (n_words * 1000 // n_sentences)) // 1000
                    - (84600 * (n_syllables * 1000 // n_words)) // 1000
                    AS BIGINT) AS flesch_milli
        FROM agg
    """


# --- tokenizer fertility (bytes/chars/words/BPE tokens per language) ---------------

# Largest numerator the exact ppm ratio path accepts: num * 1_000_000
# must stay below 2^63, so num <= (2^63 - 1) // 10^6. Beyond that the
# operator REFUSES (raise_error, the neyman_weights precedent in
# operators/sample.py) rather than silently rounding -- at that scale
# pre-aggregate the group sums to DECIMAL upstream, or run fertility
# per finer grain (lang x source x day) and roll up the ppm ratios as
# token-weighted means.
_PPM_SAFE = 9_223_372_036_854


def _ratio_ppm_expr(num: str, den: str, what: str) -> str:
    """Engine-portable exact ppm ratio: ``num * 1e6 div den`` with a
    zero-denominator NULL and the fail-loud ``_PPM_SAFE`` overflow
    guard. Valid in BOTH Spark SQL (``div``) and DuckDB (caller swaps
    the div token); operands must be non-negative BIGINTs, so
    truncating division == floor division in both engines."""
    return (
        f"CASE WHEN {den} = 0 THEN NULL"
        f" WHEN {num} <= {_PPM_SAFE} THEN ({num}) * 1000000 DIV ({den})"
        f" ELSE CAST(raise_error('{what}: ppm numerator exceeds"
        f" _PPM_SAFE -- pre-aggregate to DECIMAL upstream') AS BIGINT)"
        f" END"
    )


def _ratio_ppm_sql(num: str, den: str, what: str) -> str:
    return (
        f"CAST(CASE WHEN {den} = 0 THEN NULL"
        f" WHEN {num} <= {_PPM_SAFE} THEN ({num}) * 1000000 // ({den})"
        f" ELSE CAST(error('{what}: ppm numerator exceeds _PPM_SAFE"
        f" -- pre-aggregate to DECIMAL upstream') AS BIGINT)"
        f" END AS BIGINT)"
    )


def tokenizer_fertility(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer economics: bytes, chars, whitespace words
    and BPE-ish tokens, with fertility (tokens per word) and
    bytes-per-token in exact ppm -- the multilingual token-budget
    dial next to temperature_mixture_plan. A language whose
    bytes-per-token balloons is under-served by the tokenizer and
    silently eats budget; fertility >> 1e6 means words shatter into
    many subword tokens.

    Exact-integer discipline: four additive BIGINT sufficient
    statistics per doc (octet_length / length / whitespace-token
    count / BPE-regex token count -- all JVM-side, explode-free,
    in-row array lengths), one map-side-combinable aggregate to
    |langs x sources| rows, ratios as truncating integer division in
    ppm with the fail-loud ``_PPM_SAFE`` guard. No floats anywhere.

    Scale shape: one scan, one shuffle of |groups| partial rows.
    """
    # NULL text would diverge between engines (Spark size() on NULL
    # is -1, DuckDB len() is NULL -> skipped by SUM) and violate the
    # non-negative precondition of the ppm guard -- drop it here and
    # in the twin (the _minhash_shingles precedent).
    per_doc = df.filter(F.col(text_col).isNotNull()).select(
        *[F.col(g) for g in group_cols],
        F.octet_length(F.col(text_col)).cast("long").alias("b"),
        F.length(F.col(text_col)).cast("long").alias("c"),
        token_count(text_col).cast("long").alias("w"),
        bpe_token_count(text_col).cast("long").alias("t"),
    )
    agg = per_doc.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("b").cast("long").alias("n_bytes"),
        F.sum("c").cast("long").alias("n_chars"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("t").cast("long").alias("n_tokens"),
    )
    return agg.select(
        *group_cols,
        "n_docs", "n_bytes", "n_chars", "n_words", "n_tokens",
        F.expr(_ratio_ppm_expr("n_tokens", "n_words",
                               "tokenizer_fertility"))
        .cast("long").alias("fertility_ppm"),
        F.expr(_ratio_ppm_expr("n_bytes", "n_tokens",
                               "tokenizer_fertility"))
        .cast("long").alias("bytes_per_token_ppm"),
        F.expr(_ratio_ppm_expr("n_chars", "n_tokens",
                               "tokenizer_fertility"))
        .cast("long").alias("chars_per_token_ppm"),
    )


def tokenizer_fertility_sql(
    table: str,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`tokenizer_fertility` (same sufficient
    statistics, same guarded ppm divisions)."""
    groups = ", ".join(group_cols)
    return f"""
        WITH per_doc AS (
            SELECT {groups},
                   CAST(octet_length(encode({text_col})) AS BIGINT)
                       AS b,
                   CAST(length({text_col}) AS BIGINT) AS c,
                   CAST(len(regexp_split_to_array({text_col}, ' +'))
                        AS BIGINT) AS w,
                   CAST({bpe_token_count_sql(text_col)} AS BIGINT)
                       AS t
            FROM {table}
            WHERE {text_col} IS NOT NULL
        ), agg AS (
            SELECT {groups},
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(b) AS BIGINT) AS n_bytes,
                   CAST(SUM(c) AS BIGINT) AS n_chars,
                   CAST(SUM(w) AS BIGINT) AS n_words,
                   CAST(SUM(t) AS BIGINT) AS n_tokens
            FROM per_doc GROUP BY {groups}
        )
        SELECT {groups},
               n_docs, n_bytes, n_chars, n_words, n_tokens,
               {_ratio_ppm_sql("n_tokens", "n_words",
                               "tokenizer_fertility")}
                   AS fertility_ppm,
               {_ratio_ppm_sql("n_bytes", "n_tokens",
                               "tokenizer_fertility")}
                   AS bytes_per_token_ppm,
               {_ratio_ppm_sql("n_chars", "n_tokens",
                               "tokenizer_fertility")}
                   AS chars_per_token_ppm
        FROM agg
    """


# --- character-class mix (round-12) -------------------------------------------

# the portable whitespace class, spelled out: Java regex and RE2
# disagree on what \s covers (vertical tab), escapes below are
# identical in both
_WS_CLASS = "[ \\t\\n\\r]"


def char_class_mix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Character-class composition per group -- the script-mix /
    obfuscation dial next to the quality scores: what fraction of a
    source's characters are letters, digits, whitespace, or other
    (symbols, punctuation, non-Latin), and how many docs mix >= 3
    classes (zalgo/spam/keyboard-mash templates and markup-heavy
    crawls light this up long before perplexity filters see them).

    Class counts are exact BIGINTs via the subtraction idiom
    ``length(t) - length(regexp_replace(t, class, ''))`` -- one scan,
    no explode. The whitespace class is the EXPLICIT ``[ \\t\\n\\r]``
    (never ``\\s``: Java regex and RE2 disagree on vertical tab, so
    the portable class is spelled out). NULL text is filtered in both
    engines (the Spark size(NULL) = -1 vs DuckDB NULL divergence).

    Shares use the ``_ratio_ppm_expr`` guarded exact division; sums
    are linear in corpus chars (wrap needs ~9e18 chars -- 9 EB of
    text -- so no quadratic-moment guard applies; cf. ETL.py:29-288
    which has no text analysis at all, this is extension surface).

    Scale shape: one projection + one |groups|-row aggregate, fully
    map-combinable; regexps run JVM-side inside codegen.
    """
    t = F.col(text_col)

    def cls(pattern: str) -> F.Column:
        return (
            F.length(t) - F.length(F.regexp_replace(t, pattern, ""))
        ).cast("long")

    per = df.filter(t.isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.length(t).cast("long").alias("total"),
        cls("[A-Za-z]").alias("letters"),
        cls("[0-9]").alias("digits"),
        cls(_WS_CLASS).alias("ws"),
    )
    per = per.withColumn(
        "other",
        (
            F.col("total") - F.col("letters") - F.col("digits")
            - F.col("ws")
        ).cast("long"),
    ).withColumn(
        "n_classes",
        (
            (F.col("letters") > 0).cast("int")
            + (F.col("digits") > 0).cast("int")
            + (F.col("ws") > 0).cast("int")
            + (F.col("other") > 0).cast("int")
        ),
    )
    agg = per.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("total").cast("long").alias("total_chars"),
        F.sum("letters").cast("long").alias("letter_chars"),
        F.sum("digits").cast("long").alias("digit_chars"),
        F.sum("ws").cast("long").alias("ws_chars"),
        F.sum("other").cast("long").alias("other_chars"),
        F.sum((F.col("n_classes") >= 3).cast("long"))
        .cast("long").alias("n_mixed_docs"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs", "total_chars", "letter_chars", "digit_chars",
        "ws_chars", "other_chars", "n_mixed_docs",
        F.expr(_ratio_ppm_expr(
            "letter_chars", "total_chars", "char_class_mix"
        )).cast("long").alias("letter_ppm"),
        F.expr(_ratio_ppm_expr(
            "digit_chars", "total_chars", "char_class_mix"
        )).cast("long").alias("digit_ppm"),
        F.expr(_ratio_ppm_expr(
            "other_chars", "total_chars", "char_class_mix"
        )).cast("long").alias("other_ppm"),
        F.expr(_ratio_ppm_expr(
            "n_mixed_docs", "n_docs", "char_class_mix"
        )).cast("long").alias("mixed_doc_ppm"),
    )


def char_class_mix_sql(
    table: str,
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`char_class_mix` (same subtraction idiom,
    same explicit whitespace class, 'g' flag for replace-all)."""

    def cls(pattern: str) -> str:
        return (
            f"length({text_col}) - length(regexp_replace("
            f"{text_col}, '{pattern}', '', 'g'))"
        )

    letters_c = cls("[A-Za-z]")
    digits_c = cls("[0-9]")
    ws_c = cls(_WS_CLASS)
    return f"""
        WITH per_doc AS (
            SELECT {group_col} AS grp,
                   CAST(length({text_col}) AS BIGINT) AS total,
                   CAST({letters_c} AS BIGINT) AS letters,
                   CAST({digits_c} AS BIGINT) AS digits,
                   CAST({ws_c} AS BIGINT) AS ws
            FROM {table}
            WHERE {text_col} IS NOT NULL
        ), classed AS (
            SELECT grp, total, letters, digits, ws,
                   total - letters - digits - ws AS other
            FROM per_doc
        ), agg AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(total) AS BIGINT) AS total_chars,
                   CAST(SUM(letters) AS BIGINT) AS letter_chars,
                   CAST(SUM(digits) AS BIGINT) AS digit_chars,
                   CAST(SUM(ws) AS BIGINT) AS ws_chars,
                   CAST(SUM(other) AS BIGINT) AS other_chars,
                   CAST(SUM(CASE WHEN
                       CAST(letters > 0 AS INTEGER)
                       + CAST(digits > 0 AS INTEGER)
                       + CAST(ws > 0 AS INTEGER)
                       + CAST(other > 0 AS INTEGER) >= 3
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed_docs
            FROM classed GROUP BY grp
        )
        SELECT grp AS {group_col},
               n_docs, total_chars, letter_chars, digit_chars,
               ws_chars, other_chars, n_mixed_docs,
               {_ratio_ppm_sql("letter_chars", "total_chars",
                               "char_class_mix")} AS letter_ppm,
               {_ratio_ppm_sql("digit_chars", "total_chars",
                               "char_class_mix")} AS digit_ppm,
               {_ratio_ppm_sql("other_chars", "total_chars",
                               "char_class_mix")} AS other_ppm,
               {_ratio_ppm_sql("n_mixed_docs", "n_docs",
                               "char_class_mix")} AS mixed_doc_ppm
        FROM agg
    """
