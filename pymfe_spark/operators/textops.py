"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline tier (language-ID, quality scoring, token
counting, document fingerprinting).

All JVM-side array/string expressions (split/filter/transform/
aggregate) — no UDFs; each query is scan -> project -> (optional agg),
fully whole-stage-codegen and trivially scalable (embarrassingly
parallel per document; no shuffle except final aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.plans.catalog import register

GROUP = "textops"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# polynomial-fingerprint weights: 31^k mod 2^31-1, k = 0..7 (precomputed
# so Spark and DuckDB evaluate identical integer arithmetic)
_P = 2147483647
FP_WEIGHTS = [pow(31, k, _P) for k in range(8)]
_FPW_SQL = "[" + ", ".join(str(w) for w in FP_WEIGHTS) + "]"


def _tokens(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda x: x != "")


def tokens_sql(text: str) -> str:
    """SQL twin of :func:`_tokens`: split on spaces, drop empties."""
    return f"list_filter(string_split({text}, ' '), x -> x <> '')"


# ``toks(doc_id, w)``: every document's tokens
TOKS_CTE = f"toks AS (SELECT doc_id, {tokens_sql('text')} AS w FROM documents)"


def poly_hash(col: Column) -> Column:
    """Cross-engine polynomial string hash:
    sum(ascii(c_i) * 31^(i mod 8)) mod 2^31-1.

    Spark side iterates the split-to-chars array with transform's
    index-aware lambda — O(len) work, where a substring(s, i, 1) per
    position would be O(len²) (each substring re-scans the prefix).
    DuckDB oracles use the range+s[i] form; values are bit-identical
    (proven by the text_fingerprint gate row). A trailing empty element
    from split contributes ascii('') = 0 past every real term, so it
    cannot perturb the sum."""
    w_arr = F.array(*[F.lit(w) for w in FP_WEIGHTS])
    terms = F.transform(
        F.split(col, ""),
        lambda c, i: F.ascii(c).cast("long")
        * F.element_at(w_arr, (F.pmod(i, F.lit(8)) + 1).cast("int")),
    )
    return F.pmod(
        F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(_P),
    )


def poly_hash_sql(s: str) -> str:
    """DuckDB twin of ``poly_hash`` over the SQL string expression
    ``s``. The cast pins BIGINT: DuckDB's list sum widens to HUGEINT;
    the value fits and equals Spark's BIGINT, but the driver's
    value-hash is type-sensitive."""
    return (
        f"cast(list_aggregate(list_transform(range(1, length({s}) + 1), "
        f"i -> ascii(({s})[i])::BIGINT * ({_FPW_SQL})[((i - 1) % 8) + 1]), "
        f"'sum') % {_P} AS BIGINT)"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_TOKEN_ORACLE = f"""
SELECT doc_id,
       length(text)                                   AS n_chars,
       cast(len(toks) AS bigint)                      AS n_words,
       cast(len(list_distinct(toks)) AS bigint)       AS n_distinct_words,
       round(length(replace(text, ' ', '')) * 1.0 / len(toks), 6)
                                                      AS avg_word_len,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS ttr
FROM (SELECT doc_id, text,
             {tokens_sql("text")} AS toks
      FROM documents)
"""


@register(
    "text_token_stats",
    oracle=_TOKEN_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: chars, whitespace tokens, distinct tokens, mean
    token length, type-token ratio."""
    d = _docs(spark, sf_dir)
    toks = _tokens(F.col("text"))
    n_words = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_words"),
        r(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_words).alias(
            "avg_word_len"
        ),
        r(F.size(F.array_distinct(toks)) / n_words).alias("ttr"),
    )


_REPETITION_ORACLE = f"""
WITH {TOKS_CTE}, g2 AS (
  SELECT doc_id, 2 AS n, w[i.i] || '_' || w[i.i+1] AS g
  FROM toks, unnest(range(1, len(w))) AS i(i) WHERE len(w) >= 2
), g3 AS (
  SELECT doc_id, 3 AS n, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS g
  FROM toks, unnest(range(1, len(w) - 1)) AS i(i) WHERE len(w) >= 3
), counts AS (
  SELECT doc_id, n, g, count(*) AS c
  FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
  GROUP BY doc_id, n, g
)
SELECT doc_id, n,
       cast(sum(c) AS bigint)   AS total_grams,
       cast(count(*) AS bigint) AS distinct_grams,
       cast(max(c) AS bigint)   AS top_gram_count,
       round(max(c) * 1.0 / sum(c), 6)        AS top_gram_frac,
       round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_gram_frac
FROM counts GROUP BY doc_id, n
"""


@register("text_repetition", oracle=_REPETITION_ORACLE, group=GROUP)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate signals per document — the word
    2-gram and 3-gram variants of the published large-corpus quality
    rules (most-frequent-n-gram fraction, duplicate-n-gram fraction):
    one long row per (doc_id, n in {2,3}).

    Physical shape: tokens materialized once, both gram orders emitted
    from the SAME scan (explode over n — no second read of the
    corpus), then count aggregation on (doc_id, n, gram) with map-side
    combine (repeats collapse before the exchange — exactly the rows
    this operator hunts), and a second, much smaller aggregation of
    the per-gram counts. A per-doc array-expression form would avoid
    the shuffle but is O(tokens²) per document — quadratic in the
    100k-token docs boilerplate detection exists for — so the
    two-level aggregation is the scale-correct plan."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    tn = toks.select(
        "doc_id", F.explode(F.array(F.lit(2), F.lit(3))).alias("n"), "w"
    )
    k = F.size("w") - (F.col("n") - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(F.col("w"), i, F.col("n")), "_"),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ge = tn.select("doc_id", "n", F.explode(grams).alias("g"))
    counts = ge.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id", "n")
        .agg(
            F.sum("c").alias("total_grams"),
            F.count("*").alias("distinct_grams"),
            F.max("c").alias("top_gram_count"),
        )
        .select(
            "doc_id",
            "n",
            "total_grams",
            "distinct_grams",
            "top_gram_count",
            r(F.col("top_gram_count") / F.col("total_grams")).alias(
                "top_gram_frac"
            ),
            r(1 - F.col("distinct_grams") / F.col("total_grams")).alias(
                "dup_gram_frac"
            ),
        )
    )


_QUALITY_ORACLE = f"""
SELECT doc_id,
       round(stop_ratio, 6)  AS stop_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(0.5 * ttr + 0.3 * (1.0 - punct_ratio)
             + 0.2 * least(stop_ratio * 10.0, 1.0), 6) AS quality_score
FROM (SELECT doc_id,
             len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0 / len(toks)
               AS stop_ratio,
             length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
               / length(text) AS punct_ratio,
             length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
               / length(text) AS digit_ratio,
             len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
      FROM (SELECT doc_id, text,
                   {tokens_sql("text")} AS toks
            FROM documents))
"""


@register("text_quality", oracle=_QUALITY_ORACLE, group=GROUP)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword / punctuation / digit ratios + a
    composite score (length-normalized heuristics)."""
    d = _docs(spark, sf_dir)
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n
    punct_ratio = F.length(
        F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")
    ) / F.length("text")
    digit_ratio = F.length(
        F.regexp_replace(F.col("text"), "[^0-9]", "")
    ) / F.length("text")
    ttr = F.size(F.array_distinct(toks)) / n
    score = (
        0.5 * ttr
        + 0.3 * (F.lit(1.0) - punct_ratio)
        + 0.2 * F.least(stop_ratio * 10.0, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        r(stop_ratio).alias("stop_ratio"),
        r(punct_ratio).alias("punct_ratio"),
        r(digit_ratio).alias("digit_ratio"),
        r(score).alias("quality_score"),
    )


_LANGID_ORACLE = f"""
SELECT doc_id, lang,
       CASE WHEN len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0
                 / len(toks) >= 0.02
            THEN 'en' ELSE 'unk' END AS guessed_lang,
       (lang = CASE WHEN len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0
                         / len(toks) >= 0.02
                    THEN 'en' ELSE 'unk' END) AS agree
FROM (SELECT doc_id, lang,
             {tokens_sql("text")} AS toks
      FROM documents)
"""


@register(
    "text_langid",
    oracle=_LANGID_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language ID: english-stopword hit rate
    >= 2% -> 'en'. (The synthetic corpus shares one vocabulary across
    lang labels, so accuracy is reported, not asserted.)"""
    d = _docs(spark, sf_dir)
    toks = _tokens(F.col("text"))
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / F.size(toks)
    guessed = F.when(stop_ratio >= 0.02, F.lit("en")).otherwise(F.lit("unk"))
    return d.select(
        "doc_id",
        "lang",
        guessed.alias("guessed_lang"),
        (F.col("lang") == guessed).alias("agree"),
    )


_FP_ORACLE = f"""
SELECT doc_id, {poly_hash_sql("text")} AS fingerprint
FROM documents
"""


@register("text_fingerprint", oracle=_FP_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware document fingerprint: positional polynomial hash
    sum(ascii(c_i) * 31^(i mod 8)) mod 2^31-1 — pure integer arithmetic,
    bit-identical across engines (rolling-hash analogue without a fold);
    see poly_hash for the O(len) evaluation strategy."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", poly_hash(F.col("text")).alias("fingerprint"))


_BYSOURCE_ORACLE = """
SELECT source,
       count(*)                                AS n_docs,
       round(avg(n_chars), 6)                  AS avg_chars,
       cast(count(DISTINCT lang) AS bigint)    AS n_langs,
       round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS share
FROM documents GROUP BY source
"""


@register("docs_by_source", oracle=_BYSOURCE_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (hash agg + global-window share)."""
    d = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    agg = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        r(F.avg("n_chars")).alias("avg_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return agg.select(
        "source",
        "n_docs",
        "avg_chars",
        "n_langs",
        r(F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy())).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------
# end-to-end curation pipeline: the composition the individual
# operators exist for — dedup -> quality gate -> language gate ->
# per-(source, lang) yield report. One declarative plan: Catalyst
# fuses the filters into the scan side of the dedup window and the
# final aggregation map-side-combines, so the whole pipeline is
# scan -> window(norm) -> filter -> agg at any scale.
# ---------------------------------------------------------------------

_PIPELINE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, lang, text,
         min(doc_id) OVER (PARTITION BY lower(trim(text))) AS canonical_id,
         len({tokens_sql("text")}) AS n_words,
         len(list_filter({tokens_sql("text")}, x -> x IN ({_STOP_SQL})))
           * 1.0 / len({tokens_sql("text")})
           AS stop_ratio,
         length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
           / length(text) AS punct_ratio,
         len(list_distinct({tokens_sql("text")}))
           * 1.0 / len({tokens_sql("text")})
           AS ttr
  FROM documents
), kept AS (
  SELECT *,
         0.5 * ttr + 0.3 * (1.0 - punct_ratio)
           + 0.2 * least(stop_ratio * 10.0, 1.0) AS quality_score
  FROM scored
  WHERE doc_id = canonical_id        -- exact-dedup survivors
    AND n_words >= 20                -- length gate
    AND stop_ratio >= 0.02           -- language gate ('en' heuristic)
)
SELECT source, lang,
       cast(count(*) AS bigint)          AS n_docs_kept,
       cast(sum(n_words) AS bigint)      AS n_tokens_kept,
       round(avg(quality_score), 6)      AS avg_quality
FROM kept
WHERE quality_score >= 0.5
GROUP BY source, lang
"""


@register(
    "pipeline_training_data",
    oracle=_PIPELINE_ORACLE,
    group=GROUP,
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in ONE declarative plan:
    exact dedup (keep each cluster's canonical doc) -> length gate
    (>= 20 tokens) -> language gate (the 'en' stopword heuristic) ->
    quality gate (composite score >= 0.5) -> per-(source, lang) yield
    report (docs kept, tokens kept, mean quality). The per-doc
    operators (dedup_exact / text_quality / text_langid) are this
    pipeline's stages exposed individually; composing them
    declaratively lets Catalyst collapse everything into
    scan -> window(norm) -> filter -> partial agg — no intermediate
    materialization, which is the point at 100 TB."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n
    punct_ratio = F.length(
        F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")
    ) / F.length("text")
    ttr = F.size(F.array_distinct(toks)) / n
    quality = (
        0.5 * ttr
        + 0.3 * (F.lit(1.0) - punct_ratio)
        + 0.2 * F.least(stop_ratio * 10.0, F.lit(1.0))
    )
    norm = F.lower(F.trim(F.col("text")))
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        F.min("doc_id").over(Window.partitionBy(norm)).alias("canonical_id"),
        n.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality_score"),
    )
    kept = scored.filter(
        (F.col("doc_id") == F.col("canonical_id"))
        & (F.col("n_words") >= 20)
        & (F.col("stop_ratio") >= 0.02)
        & (F.col("quality_score") >= 0.5)
    )
    return kept.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_words").alias("n_tokens_kept"),
        r(F.avg("quality_score")).alias("avg_quality"),
    )


# ---------------------------------------------------------------------
# BPE-style pre-tokenization (the GPT-2 pre-tokenizer family, with the
# lookahead clause dropped so the pattern stays in the RE2 subset that
# DuckDB shares with Java regex — identical token streams in both
# engines). Token COUNT under this tokenizer is the standard
# data-budget unit for LLM corpora; whitespace tokens (text_token_stats
# above) under-count punctuation-heavy text.
# ---------------------------------------------------------------------

BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_SQL = BPE_PATTERN.replace("'", "''")  # SQL string-literal escape


_BPE_ORACLE = f"""
SELECT doc_id,
       cast(len(toks) AS bigint)                      AS n_bpe_tokens,
       cast(len(list_distinct(toks)) AS bigint)       AS n_distinct_bpe,
       round(length(text) * 1.0 / len(toks), 6)       AS chars_per_token,
       cast(len(list_filter(toks, t -> regexp_matches(t, '^ ?[0-9]+$')))
            AS bigint)                                AS n_number_tokens
FROM (SELECT doc_id, text,
             regexp_extract_all(text, '{_BPE_SQL}') AS toks
      FROM documents)
"""


# ---------------------------------------------------------------------
# PII scrubbing (emails / phone numbers / IPv4), the privacy-hygiene
# pass of published large-corpus recipes. Patterns stay inside the
# regex subset Java (Spark) and RE2 (DuckDB) share — \b, \d, character
# classes, non-capturing groups; no lookaround/backrefs — so both
# engines match identical spans. The synthetic corpus contains no PII,
# so the catalog query plants a deterministic PII suffix derived from
# doc_id IN-PLAN (identically in both engines): the oracle then
# genuinely exercises match + redaction arithmetic, not just zeros.
# ---------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def scrub_pii(text: Column) -> tuple[Column, Column, Column, Column]:
    """(n_emails, n_phones, n_ips, redacted_text). Emails are redacted
    first (their charset overlaps phone/IP digits), then phones, then
    IPs — the same fixed order as the oracle."""
    n_em = F.regexp_count(text, F.lit(EMAIL_RE))
    n_ph = F.regexp_count(text, F.lit(PHONE_RE))
    n_ip = F.regexp_count(text, F.lit(IPV4_RE))
    red = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    return n_em, n_ph, n_ip, red


_PII_PLANT_SQL = (
    "text || ' contact user' || cast(doc_id AS varchar) || '@example.com"
    " or call 555-' || lpad(cast(doc_id % 1000 AS varchar), 3, '0')"
    " || '-' || lpad(cast(doc_id % 10000 AS varchar), 4, '0')"
    " || ' from 10.' || cast(doc_id % 256 AS varchar) || '.0.1'"
)

_PII_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, {_PII_PLANT_SQL} AS aug FROM documents
)
SELECT doc_id,
       cast(len(regexp_extract_all(aug, '{EMAIL_RE}')) AS bigint) AS n_emails,
       cast(len(regexp_extract_all(aug, '{PHONE_RE}')) AS bigint) AS n_phones,
       cast(len(regexp_extract_all(aug, '{IPV4_RE}')) AS bigint)  AS n_ips,
       length(regexp_replace(regexp_replace(regexp_replace(
           aug, '{EMAIL_RE}', '<EMAIL>', 'g'),
                '{PHONE_RE}', '<PHONE>', 'g'),
                '{IPV4_RE}', '<IP>', 'g'))                        AS redacted_chars,
       length(aug)                                                AS planted_chars
FROM planted
"""


@register("text_pii_scrub", oracle=_PII_ORACLE, group=GROUP)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction counts over a deterministically
    PII-planted corpus (each doc gains one email, one phone, one IPv4
    derived from doc_id — built identically in the oracle, so every
    match count and redacted length is value-checked). Scan -> project,
    embarrassingly parallel; regex work is JVM-side codegen."""
    d = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"),
    )
    n_em, n_ph, n_ip, red = scrub_pii(aug)
    return d.select(
        "doc_id",
        n_em.cast("long").alias("n_emails"),
        n_ph.cast("long").alias("n_phones"),
        n_ip.cast("long").alias("n_ips"),
        F.length(red).cast("long").alias("redacted_chars"),
        F.length(aug).cast("long").alias("planted_chars"),
    )


# ---------------------------------------------------------------------
# Corpus-level boilerplate discovery: the global most-frequent word
# 3-grams. Complements text_repetition (per-document signals) — this is
# the table a curation run reads to build its boilerplate blocklist.
# ---------------------------------------------------------------------

TOP_NGRAMS_K = 20

_TOP_NGRAMS_ORACLE = f"""
WITH {TOKS_CTE}, g AS (
  SELECT doc_id, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS gram
  FROM toks, unnest(range(1, len(w) - 1)) AS i(i) WHERE len(w) >= 3
), counts AS (
  SELECT gram, cast(count(*) AS bigint) AS n_occurrences,
         cast(count(DISTINCT doc_id) AS bigint) AS n_docs
  FROM g GROUP BY gram
)
SELECT gram, n_occurrences, n_docs,
       cast(row_number() OVER (ORDER BY n_occurrences DESC, gram) AS bigint)
         AS rank
FROM counts
ORDER BY n_occurrences DESC, gram LIMIT {TOP_NGRAMS_K}
"""


@register(
    "corpus_top_ngrams", oracle=_TOP_NGRAMS_ORACLE, group=GROUP
)
def corpus_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k word 3-grams by occurrence count (deterministic
    tie-break on the gram itself), with document frequency. Physical
    shape: gram explode -> ONE (gram) aggregation with map-side combine
    (count + distinct-doc via two-level agg) -> distributed top-k
    (TakeOrderedAndProject: per-partition heads merged on the driver —
    k rows cross the wire per partition, never the gram table). The
    rank column is computed AFTER the limit on k rows only."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    k = F.size("w") - 2
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(F.col("w"), i, 3), "_"),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ge = toks.select("doc_id", F.explode(grams).alias("gram"))
    counts = ge.groupBy("gram").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("gram")
    ).limit(TOP_NGRAMS_K)
    from pyspark.sql.window import Window

    rank_w = Window.orderBy(F.col("n_occurrences").desc(), F.col("gram"))
    return top.select(
        "gram",
        "n_occurrences",
        "n_docs",
        F.row_number().over(rank_w).cast("long").alias("rank"),
    )


@register(
    "text_token_stats_bpe",
    oracle=_BPE_ORACLE,
    group=GROUP,
)
def text_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under the BPE-ish pre-tokenizer: token count,
    distinct tokens, chars-per-token (the compression-ratio proxy BPE
    budgeting uses), numeric-token count. Pure regexp_extract_all —
    scan -> project, embarrassingly parallel; both engines tokenize
    with the same RE2-subset pattern, so every value is
    oracle-checked."""
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe"),
        r(F.length("text") / n).alias("chars_per_token"),
        F.size(
            F.filter(toks, lambda t: t.rlike("^ ?[0-9]+$"))
        ).cast("long").alias("n_number_tokens"),
    )


# --- corpus-LM quality proxy: unigram log-probability ---------------

_UNIGRAM_ORACLE = f"""
WITH {TOKS_CTE}, tok AS (
  SELECT doc_id, i.i AS pos, w[i.i] AS t
  FROM toks, unnest(range(1, len(w) + 1)) AS i(i)
), uni AS (
  SELECT t, count(*) AS cnt FROM tok GROUP BY t
), tot AS (
  SELECT sum(cnt) AS total FROM uni
), folded AS (
  SELECT tok.doc_id,
         count(*) AS n_tokens,
         list_aggregate(list(ln(uni.cnt) ORDER BY tok.pos), 'sum')
           AS s_lncnt
  FROM tok JOIN uni ON uni.t = tok.t
  GROUP BY tok.doc_id
)
SELECT f.doc_id,
       cast(f.n_tokens AS BIGINT) AS n_tokens,
       round((f.s_lncnt - f.n_tokens * ln(t.total)) / f.n_tokens, 6)
         AS avg_logprob
FROM folded f, tot t
"""


@register("text_unigram_logprob", oracle=_UNIGRAM_ORACLE, group=GROUP)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality proxy: mean unigram log-probability per
    document under the corpus's own MLE unigram model —
    avg_t ln(cnt(t) / total). The honest no-external-model stand-in
    for the published LM-score quality filters: gibberish and rare-
    token soup score low, common fluent text scores high.

    Cross-engine float parity: per-document token log-counts are
    summed by a SEQUENTIAL fold over the position-ordered list
    (collect_list ordered by pos -> F.aggregate; DuckDB
    list(... ORDER BY pos) -> list_aggregate), so both engines add in
    the identical order — an unordered SUM would be
    accumulation-order-dependent. The model side stays one aggregate:
    score = (sum ln cnt_t - n·ln total) / n.

    Scale shape: one token exchange for the unigram counts (map-side
    combine collapses repeats), one token-key join of the exploded
    corpus against the unigram table (Zipf-headed: AQE skew join
    splits the stop-word keys; the dedup-style broadcast hot-list is
    the manual fallback), one doc_id exchange for the fold. At 100 TB
    the unigram table is a maintained artifact (the corpus_top_ngrams
    shape), not recomputed per scoring pass."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(_tokens(F.col("text"))).alias("pos", "t"),
    )
    uni = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    tot = uni.agg(F.sum("cnt").alias("total"))
    folded = (
        tok.join(uni, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.log(F.col("cnt")).alias("ln_cnt")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["ln_cnt"],
            ).alias("s_lncnt"),
        )
    )
    return folded.join(F.broadcast(tot)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        r(
            (F.col("s_lncnt") - F.col("n_tokens") * F.log(F.col("total")))
            / F.col("n_tokens")
        ).alias("avg_logprob"),
    )
