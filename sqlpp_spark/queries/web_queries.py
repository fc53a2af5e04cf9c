"""Registry entries for web-corpus hygiene (ops/web.py) and PII
redaction (ops/text.py).

The ``documents`` table has no URL or PII columns, so both queries
first derive deterministic synthetic columns from (doc_id, source)
with expressions written identically in Spark and in the DuckDB
oracle — the interesting part (regex host extraction, subdomain
anti-join, chained redaction) then runs on real variety:

- urls: 4 shapes (userinfo+port / subdomain / .org / non-URL garbage)
- pii: email / IPv4 / phone injected on doc_id % {3,5,7} == 0 rows

Oracle notes: DuckDB ``ends_with(host, '.' || domain)`` replicates the
subdomain rule; the PII regexes are the single source of truth shared
by both engines (ops/text.py PII_PATTERNS — RE2/Java-compatible).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlpp_spark.ops import web as W
from sqlpp_spark.ops.text import pii_counts, pii_counts_sql, redact_pii, redact_pii_sql
from sqlpp_spark.queries import register, table
from sqlpp_spark.session import own

BLOCKED_DOMAINS = ["src1.example.com", "src3.example.org", "spam.example.net"]

# -- deterministic URL synthesis (identical Spark / DuckDB text) -------------

_URL_SQL = """CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN 'https://user@' || source || '.example.com:8443/d/' || CAST(doc_id AS VARCHAR)
  WHEN 1 THEN 'http://sub.' || source || '.example.com/p?q=' || CAST(doc_id AS VARCHAR)
  WHEN 2 THEN 'https://crawl.' || source || '.example.org/x'
  ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
END"""


def _with_url(d: DataFrame) -> DataFrame:
    m = (F.col("doc_id") % 4).cast("int")
    did = F.col("doc_id").cast("string")
    return d.withColumn(
        "url",
        F.when(m == 0, F.concat(F.lit("https://user@"), F.col("source"),
                                F.lit(".example.com:8443/d/"), did))
        .when(m == 1, F.concat(F.lit("http://sub."), F.col("source"),
                               F.lit(".example.com/p?q="), did))
        .when(m == 2, F.concat(F.lit("https://crawl."), F.col("source"),
                               F.lit(".example.org/x")))
        .otherwise(F.concat(F.lit("not a url "), did)),
    )


_BLOCK_VALUES = ", ".join(f"('{d}')" for d in BLOCKED_DOMAINS)

@register(
    "web_domain_filter",
    oracle=f"""
WITH u AS (
  SELECT doc_id, source, {_URL_SQL} AS url FROM documents
), h AS (
  SELECT doc_id, source, url, {W.url_domain_sql('url')} AS domain FROM u
), blocklist(blocked) AS (VALUES {_BLOCK_VALUES})
SELECT doc_id, url, domain FROM h
WHERE NOT EXISTS (
  SELECT 1 FROM blocklist
  WHERE h.domain = blocked OR ends_with(h.domain, '.' || blocked)
)
ORDER BY doc_id
""",
)
def web_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filter over synthesized crawl URLs: host extraction in
    the scan stage, then one broadcast HASH anti-join per distinct
    blocklist label count (ops/web.py) — no nested-loop node, corpus
    never shuffles."""
    d = _with_url(table(spark, sf_dir, "documents"))
    blocklist = spark.createDataFrame(
        [(x,) for x in BLOCKED_DOMAINS], "domain string"
    )
    # driver-local twin: lets filter_blocked_domains enumerate label
    # counts without a plan-time Spark job (r19, guide §1.2)
    blocklist._sqlpp_local_domains = list(BLOCKED_DOMAINS)
    kept = W.filter_blocked_domains(d, blocklist)
    return (
        kept.select(
            "doc_id", "url", W.url_domain(F.col("url")).alias("domain")
        )
        .orderBy("doc_id")
    )


# -- PII injection + redaction ----------------------------------------------

_PII_SQL = (
    "text || CASE WHEN doc_id % 3 = 0 THEN ' contact user'"
    " || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.1.2.'"
    " || CAST(doc_id % 256 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' call +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
)


def _with_pii(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@mail.example.com"))).otherwise(""),
            F.when(did % 5 == 0, F.concat(
                F.lit(" from 10.1.2."), (did % 256).cast("string"))
            ).otherwise(""),
            F.when(did % 7 == 0, F.concat(
                F.lit(" call +1-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
        ),
    )


_CNT_SQL = ",\n       ".join(
    f"{expr} AS {name}"
    for name, expr in pii_counts_sql(f"({_PII_SQL})").items()
)

@register(
    "text_pii_redaction",
    oracle=f"""
SELECT doc_id,
       {redact_pii_sql(f'({_PII_SQL})')} AS redacted,
       {_CNT_SQL}
FROM documents
ORDER BY doc_id
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject synthetic PII deterministically, then redact with chained
    scan-stage regexp_replace and count matches per kind — zero
    shuffles, zero Python; the regex set is shared verbatim with the
    DuckDB oracle."""
    d = _with_pii(table(spark, sf_dir, "documents"))
    counts = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        redact_pii(F.col("text")).alias("redacted"),
        *[c.alias(n) for n, c in counts.items()],
    ).orderBy("doc_id")


# -- URL normalization / URL dedup / per-domain caps -------------------------
# second URL synthesis exercising every normalization rule: case, default
# ports, fragments, tracking params, unsorted params, trailing slashes

_URL2_SQL = """CASE CAST(doc_id % 5 AS INTEGER)
  WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/a/b/?utm_source=x&q=' || CAST(doc_id % 7 AS VARCHAR) || '#frag'
  WHEN 1 THEN 'https://www.' || source || '.example.com/a/b?q=' || CAST(doc_id % 7 AS VARCHAR)
  WHEN 2 THEN 'http://' || source || '.example.com:80/'
  WHEN 3 THEN 'http://' || source || '.example.com'
  ELSE 'https://' || source || '.example.com/x/' || CAST(doc_id % 11 AS VARCHAR) || '/?gclid=abc&b=2&a=1'
END"""


def _with_url2(d: DataFrame) -> DataFrame:
    m = (F.col("doc_id") % 5).cast("int")
    q7 = (F.col("doc_id") % 7).cast("string")
    p11 = (F.col("doc_id") % 11).cast("string")
    s = F.col("source")
    return d.withColumn(
        "url",
        F.when(m == 0, F.concat(
            F.lit("HTTPS://WWW."), s, F.lit(".Example.COM:443/a/b/?utm_source=x&q="),
            q7, F.lit("#frag")))
        .when(m == 1, F.concat(
            F.lit("https://www."), s, F.lit(".example.com/a/b?q="), q7))
        .when(m == 2, F.concat(F.lit("http://"), s, F.lit(".example.com:80/")))
        .when(m == 3, F.concat(F.lit("http://"), s, F.lit(".example.com")))
        .otherwise(F.concat(
            F.lit("https://"), s, F.lit(".example.com/x/"), p11,
            F.lit("/?gclid=abc&b=2&a=1"))),
    )


@register(
    "web_url_normalize",
    oracle=f"""
WITH u AS (SELECT doc_id, {_URL2_SQL} AS url FROM documents)
SELECT doc_id, url, {W.normalize_url_sql('url')} AS norm_url
FROM u ORDER BY doc_id
""",
)
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization bit-for-bit against DuckDB: lowercase
    scheme/host, default-port strip, fragment drop, tracking-param
    removal, param sort, trailing-slash trim — all scan-stage string
    functions, no UDF."""
    d = _with_url2(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "url", W.normalize_url(F.col("url")).alias("norm_url")
    ).orderBy("doc_id")


@register(
    "web_url_dedup",
    oracle=f"""
WITH u AS (SELECT doc_id, lang, {_URL2_SQL} AS url FROM documents),
n AS (SELECT doc_id, lang, {W.normalize_url_sql('url')} AS nu FROM u),
keep AS (SELECT MIN(doc_id) AS doc_id FROM n GROUP BY nu)
SELECT n.doc_id, n.lang FROM n SEMI JOIN keep USING (doc_id)
""",
)
def web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup after canonicalization (one row per normalized
    URL, min id wins): distinct shapes of the same logical URL —
    case/port/fragment/tracking-param variants — collapse. Only ids and
    normalized URLs shuffle for the argmin."""
    d = _with_url2(table(spark, sf_dir, "documents"))
    return W.dedup_by_url(d).select("doc_id", "lang")


def _domain_cap_oracle(cap: int) -> str:
    from sqlpp_spark.ops.hashing import hash64_sql

    h = hash64_sql("concat('s0', '|', CAST(doc_id AS VARCHAR))")
    rd = W.registrable_domain_sql(f"lower({W.url_domain_sql('url')})")
    return f"""
WITH u AS (SELECT doc_id, lang, {_URL2_SQL} AS url FROM documents),
hst AS (SELECT doc_id, lang, {rd} AS host FROM u)
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY {h} ASC, doc_id ASC) AS rk
  FROM hst
) WHERE rk <= {cap}
"""


@register("web_domain_cap", oracle=_domain_cap_oracle(25))
def web_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota (at most 25 docs per REGISTRABLE domain
    (eTLD+1), deterministic salted-hash priority) — the anti-dominance
    cap crawl corpora apply. The synthetic URLs put every doc on a
    subdomain of example.com, so the whole fixture shares ONE quota:
    exactly the subdomain-evasion shape the eTLD+1 grouping exists to
    stop. Two-phase exact-k underneath: no task sorts a whole domain."""
    d = _with_url2(table(spark, sf_dir, "documents"))
    return W.domain_cap(d, cap=25).select("doc_id", "lang")


@register(
    "web_domain_stats",
    oracle=f"""
WITH u AS (
  SELECT doc_id, n_chars, lang, {_URL_SQL} AS url FROM documents
), h AS (
  SELECT doc_id, n_chars, lang, {W.url_domain_sql('url')} AS domain FROM u
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM h GROUP BY domain
ORDER BY domain
""",
)
def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl statistics (doc counts, char volume, language
    spread) — the aggregation behind per-domain quotas and crawl
    prioritization. One partial-aggregated shuffle on the domain key;
    avg derives from exact integer totals (bit-equal cross-engine)."""
    d = _with_url(table(spark, sf_dir, "documents"))
    host = W.url_domain(F.col("url"))
    return (
        d.select(host.alias("domain"), "n_chars", "lang")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "domain",
            "n_docs",
            "total_chars",
            (F.col("total_chars").cast("double") / F.col("n_docs").cast("double")).alias("avg_chars"),
            "n_langs",
        )
        .orderBy("domain")
    )


# -- composed crawl-prepare pipeline (round-6 ops chained) --------------------


def _web_prepare_oracle(p: int = 8) -> str:
    from sqlpp_spark.ops.hashing import hash64_sql
    from sqlpp_spark.ops.text import NORMALIZE_SQL, quality_score_sql

    norm_txt = NORMALIZE_SQL.format(c="text")
    return f"""
WITH u AS (SELECT doc_id, text, {_URL2_SQL} AS url FROM documents),
nu AS (SELECT doc_id, text, {W.normalize_url_sql('url')} AS canon FROM u),
keepid AS (SELECT MIN(doc_id) AS doc_id FROM nu GROUP BY canon),
base AS (SELECT n.doc_id, n.text FROM nu n SEMI JOIN keepid USING (doc_id)),
norm AS (SELECT doc_id, {norm_txt} AS s FROM base),
toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM norm),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
         array_to_string(
           t[CAST(g.i*{p}+1 AS BIGINT):CAST(least((g.i+1)*{p}, len(t)) AS BIGINT)],
           ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{p}.0) AS BIGINT) - 1)) AS g(i)
),
hashed AS (
  SELECT doc_id, chunk_id, {hash64_sql("chunk_text")} AS ph FROM chunks
),
winners AS (
  SELECT doc_id, chunk_id FROM (
    SELECT doc_id, chunk_id,
           ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, chunk_id) AS rk
    FROM hashed
  ) WHERE rk = 1
),
kept AS (
  SELECT c.doc_id, c.chunk_id, c.chunk_text
  FROM chunks c SEMI JOIN winners w
    ON c.doc_id = w.doc_id AND c.chunk_id = w.chunk_id
),
agg AS (
  SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_total FROM chunks GROUP BY doc_id
)
SELECT t.doc_id, a.clean_text, a.n_kept,
       t.n_total - a.n_kept AS n_dropped,
       {quality_score_sql('a.clean_text')} AS quality
FROM totals t JOIN agg a USING (doc_id)
WHERE a.n_kept > 0
"""


@register("pipeline_web_prepare", oracle=_web_prepare_oracle(), headline=True)
def pipeline_web_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-prepare pipeline chaining the round-6 operators
    in one lazy plan: URL canonicalization + URL-keyed dedup (ids and
    normalized URLs shuffle, text stays put) → corpus-wide passage
    dedup over the survivors (min-struct winners on 8-byte hashes,
    text moves once for reassembly) → quality annotation of the
    rewritten text (scan-stage integer arithmetic). Docs reduced to
    zero passages drop. The whole chain is one Catalyst plan — filters
    compose, nothing materializes between stages."""
    from sqlpp_spark.ops import dedup as D
    from sqlpp_spark.ops import text as X

    d = _with_url2(table(spark, sf_dir, "documents"))
    survivors = W.dedup_by_url(d)
    cleaned = D.passage_dedup(survivors, passage_tokens=8)
    return cleaned.filter(F.col("n_kept") > 0).select(
        "doc_id", "clean_text", "n_kept", "n_dropped",
        X.quality_score(F.col("clean_text")).alias("quality"),
    )


# -- data-driven PSL domain cap (wildcard/exception/private rules) -----------

_PSL_RULES = ["com", "uk", "co.uk", "io", "github.io", "*.ck", "!www.ck"]

_URL4_SQL = """CASE CAST(doc_id % 5 AS INTEGER)
  WHEN 0 THEN 'https://user' || CAST(doc_id % 7 AS VARCHAR) || '.github.io/p/' || CAST(doc_id AS VARCHAR)
  WHEN 1 THEN 'http://' || source || '.web.ck/x'
  WHEN 2 THEN 'https://www.ck/y/' || CAST(doc_id AS VARCHAR)
  WHEN 3 THEN 'http://sub' || CAST(doc_id % 3 AS VARCHAR) || '.' || source || '.co.uk/z'
  ELSE 'https://192.168.' || CAST(doc_id % 3 AS VARCHAR) || '.' || CAST(doc_id % 9 AS VARCHAR) || '/ip'
END"""


def _with_url4(d: DataFrame) -> DataFrame:
    m = (F.col("doc_id") % 5).cast("int")
    did = F.col("doc_id").cast("string")
    u7 = (F.col("doc_id") % 7).cast("string")
    s3 = (F.col("doc_id") % 3).cast("string")
    s9 = (F.col("doc_id") % 9).cast("string")
    s = F.col("source")
    return d.withColumn(
        "url",
        F.when(m == 0, F.concat(F.lit("https://user"), u7,
                                F.lit(".github.io/p/"), did))
        .when(m == 1, F.concat(F.lit("http://"), s, F.lit(".web.ck/x")))
        .when(m == 2, F.concat(F.lit("https://www.ck/y/"), did))
        .when(m == 3, F.concat(F.lit("http://sub"), s3, F.lit("."), s,
                               F.lit(".co.uk/z")))
        .otherwise(F.concat(F.lit("https://192.168."), s3, F.lit("."), s9,
                            F.lit("/ip"))),
    )


def _domain_cap_psl_oracle(cap: int) -> str:
    from sqlpp_spark.ops.hashing import hash64_sql

    h = hash64_sql("concat('s0', '|', CAST(doc_id AS VARCHAR))")
    rd = W.registrable_domain_psl_sql(
        f"lower({W.url_domain_sql('url')})", _PSL_RULES
    )
    return f"""
WITH u AS (SELECT doc_id, lang, {_URL4_SQL} AS url FROM documents),
hst AS (SELECT doc_id, lang, {rd} AS host FROM u)
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY {h} ASC, doc_id ASC) AS rk
  FROM hst
) WHERE rk <= {cap}
"""


@register("web_domain_cap_psl", oracle=_domain_cap_psl_oracle(10))
def web_domain_cap_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota resolved against a DATA-DRIVEN public suffix
    list — wildcard (*.ck), exception (!www.ck) and private
    (github.io) rules included. The synthetic URLs hit every rule
    kind plus IPv4 literals: per-user github.io pages get separate
    quotas (the over-merge PSL-lite would cause), *.ck subtrees key on
    <label>.ck, www.ck is carved back out by the exception, and co.uk
    subdomains share per-site quotas. The Spark side resolves eTLD+1
    via broadcast hash joins over the rule frame
    (ops/web.with_registrable_domain); the oracle re-derives it with
    an independent pure-CASE DuckDB formulation — so the join
    machinery itself is what the hash check verifies."""
    d = _with_url4(table(spark, sf_dir, "documents"))
    psl = W.psl_rules_df(spark, _PSL_RULES)
    return W.domain_cap(d, cap=10, psl=psl).select("doc_id", "lang")


# -- composed crawl-prepare with the DATA-DRIVEN PSL cap (round-9) -----------


def _web_prepare_psl_oracle(cap: int = 10, p: int = 8) -> str:
    from sqlpp_spark.ops.hashing import hash64_sql
    from sqlpp_spark.ops.text import NORMALIZE_SQL, quality_score_sql

    norm_txt = NORMALIZE_SQL.format(c="text")
    h = hash64_sql("concat('s0', '|', CAST(doc_id AS VARCHAR))")
    rd = W.registrable_domain_psl_sql(
        f"lower({W.url_domain_sql('url')})", _PSL_RULES
    )
    return f"""
WITH u AS (SELECT doc_id, text, {_URL4_SQL} AS url FROM documents),
nu AS (SELECT doc_id, {W.normalize_url_sql('url')} AS canon FROM u),
keepid AS (SELECT MIN(doc_id) AS doc_id FROM nu GROUP BY canon),
base AS (SELECT u.doc_id, u.text, u.url FROM u SEMI JOIN keepid USING (doc_id)),
hst AS (SELECT doc_id, text, {rd} AS host FROM base),
capped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY host ORDER BY {h} ASC, doc_id ASC)
             AS rk
    FROM hst
  ) WHERE rk <= {cap}
),
norm AS (SELECT doc_id, {norm_txt} AS s FROM capped),
toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM norm),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
         array_to_string(
           t[CAST(g.i*{p}+1 AS BIGINT):CAST(least((g.i+1)*{p}, len(t)) AS BIGINT)],
           ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{p}.0) AS BIGINT) - 1)) AS g(i)
),
hashed AS (
  SELECT doc_id, chunk_id, {hash64_sql("chunk_text")} AS ph FROM chunks
),
winners AS (
  SELECT doc_id, chunk_id FROM (
    SELECT doc_id, chunk_id,
           ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, chunk_id) AS rk
    FROM hashed
  ) WHERE rk = 1
),
kept AS (
  SELECT c.doc_id, c.chunk_id, c.chunk_text
  FROM chunks c SEMI JOIN winners w
    ON c.doc_id = w.doc_id AND c.chunk_id = w.chunk_id
),
agg AS (
  SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_total FROM chunks GROUP BY doc_id
)
SELECT t.doc_id, a.clean_text, a.n_kept,
       t.n_total - a.n_kept AS n_dropped,
       {quality_score_sql('a.clean_text')} AS quality
FROM totals t JOIN agg a USING (doc_id)
WHERE a.n_kept > 0
"""


@register("pipeline_web_prepare_psl", oracle=_web_prepare_psl_oracle())
def pipeline_web_prepare_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl-prepare pipeline with the PRODUCTION domain
    policy wired in (round-8 ask #7): URL canonicalization + URL-keyed
    dedup → per-domain quota resolved against a DATA-DRIVEN public
    suffix list (wildcard *.ck, exception !www.ck, private github.io —
    ops/web.with_registrable_domain's broadcast hash joins, cap 10 via
    two-phase exact-k) → passage dedup over the survivors → quality
    annotation. One lazy Catalyst plan end-to-end; the corpus never
    shuffles for PSL resolution (plan pinned BroadcastHashJoin-only in
    tests/test_plans.py). The oracle re-derives the whole chain —
    including an independent pure-CASE PSL formulation — in DuckDB."""
    from sqlpp_spark.ops import dedup as D
    from sqlpp_spark.ops import text as X

    d = _with_url4(table(spark, sf_dir, "documents"))
    survivors = W.dedup_by_url(d)
    psl = W.psl_rules_df(spark, _PSL_RULES)
    capped = W.domain_cap(survivors, cap=10, psl=psl)
    cleaned = D.passage_dedup(capped, passage_tokens=8)
    return cleaned.filter(F.col("n_kept") > 0).select(
        "doc_id", "clean_text", "n_kept", "n_dropped",
        X.quality_score(F.col("clean_text")).alias("quality"),
    )


# -- WARC crawl-archive extraction (round-9) ---------------------------------


def _warc_extract_oracle() -> str:
    from sqlpp_spark.ops.warc import html_text_sql

    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>"
        "<style>p {color: red}</style></head>"
        "<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>"
        "<!-- c' || CAST(doc_id AS VARCHAR) || ' -->"
        "<p>' || text || '</p>"
        "<script>var x = ' || CAST(doc_id AS VARCHAR) || ';</script>"
        "</body></html>'"
    )
    extracted = html_text_sql("html")
    return f"""
WITH h AS (SELECT doc_id, {html} AS html FROM documents),
x AS (SELECT doc_id, {extracted} AS text FROM h)
SELECT doc_id,
       'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
       CAST(200 AS INT) AS http_status,
       text,
       CAST(length(text) AS BIGINT) AS n_chars
FROM x
"""


@register("web_warc_extract", oracle=_warc_extract_oracle())
def web_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED WARC → text extraction (ISO 28500 + HTML strip — the
    first mile of a crawl training-data pipeline): per-document
    archives (warcinfo + request + response records, closed-form HTML
    bodies) parse through Arrow-batched mapInPandas (ops/warc.py),
    HTTP responses split status/headers/body, and the body runs the
    JVM-side html_text regexp chain (script/style/head/comment
    removal, tag strip, entity decode, whitespace collapse — zero
    Python in the extraction hot path). DuckDB rebuilds the identical
    HTML from `documents` and applies the same RE2-compatible chain,
    so Content-Length slicing, CRLF discipline, HTTP splitting and
    every extraction stage are hash-verified end to end.

    r11: parses through ``warc_records_segmented`` (the default scale
    path — record-boundary chunking bounds per-Arrow-batch bytes, so a
    ~1 GB Common-Crawl segment can't defeat the maxRecordsPerBatch
    row cap; measured FASTER than the direct reader in
    WARC_SEGMENT_REHEARSAL.json). Segmentation is invisible to the
    record stream, so the oracle is unchanged."""
    from sqlpp_spark.ops.warc import html_text_col, synthesize_warc_records

    d = table(spark, sf_dir, "documents")
    # spread=False shape, r19-fused: per-document archives never split,
    # so the chunk repartition would be a pure payload shuffle with
    # nothing to gain — and the fused synthesize→segment→parse keeps
    # the archive bytes out of the Arrow boundary entirely (rows
    # identical by construction, pinned in tests/test_warc.py)
    recs = synthesize_warc_records(d)
    return (
        recs.filter((F.col("rec_type") == "response")
                    & (F.col("http_status") == 200))
        .select(
            F.col("archive_id").alias("doc_id"),
            "target_uri",
            "http_status",
            html_text_col(F.col("body")).alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )


@register("web_warc_extract_segmented", oracle=_warc_extract_oracle())
def web_warc_extract_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED segmented-reader twin of ``web_warc_extract`` (round-10,
    verdict ask #5): per-document archives are BUNDLED into 8 large
    multi-record archives (WARC streams concatenate trivially), then
    parsed through ``warc_records_segmented`` with a deliberately tiny
    4 KB chunk cap — so record-boundary splitting, chunk validity and
    the repartition path all sit inside the hash-verified plan. The
    oracle is the SAME SQL as the direct extract: segmentation must be
    invisible to the record stream. doc_id comes back out of the
    target URI (the bundle id replaces the per-doc archive_id)."""
    from sqlpp_spark.ops.warc import (
        html_text_col, synthesize_warc_media, warc_records_segmented,
    )

    d = table(spark, sf_dir, "documents")
    per_doc = synthesize_warc_media(d)

    def bundle(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("archive_id")
        payload = b"".join(bytes(p) for p in pdf["payload"])
        return pd.DataFrame(
            {"archive_id": [int(pdf["archive_id"].iloc[0]) % 8],
             "payload": [payload]}
        )

    bundled = per_doc.groupBy(
        (F.col("archive_id") % 8).alias("__bundle")
    ).applyInPandas(bundle, "archive_id long, payload binary")
    recs = warc_records_segmented(bundled, max_chunk_bytes=4096)
    return (
        recs.filter((F.col("rec_type") == "response")
                    & (F.col("http_status") == 200))
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("bigint").alias("doc_id"),
            "target_uri",
            "http_status",
            html_text_col(F.col("body")).alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )


@register("web_warc_extract_gzip", oracle=_warc_extract_oracle())
def web_warc_extract_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED `.warc.gz` twin (r11): Common Crawl ships gzipped
    segments whose records are independent gzip MEMBERS, so the
    segmented reader must cut at member boundaries with the chunk cap
    applied to DECOMPRESSED bytes. Per-document archives are gzipped
    (one member each), concatenated into 8 multi-member bundles, and
    parsed through the same `warc_records_segmented` plan with a tiny
    decompressed-size cap. The oracle is the SAME SQL as the direct
    extract: compression and segmentation must both be invisible to
    the record stream."""
    import gzip

    from sqlpp_spark.ops.warc import (
        html_text_col, synthesize_warc_media, warc_records_segmented,
    )

    d = table(spark, sf_dir, "documents")
    per_doc = synthesize_warc_media(d)

    def bundle_gz(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("archive_id")
        payload = b"".join(
            gzip.compress(bytes(p), mtime=0) for p in pdf["payload"]
        )
        return pd.DataFrame(
            {"archive_id": [int(pdf["archive_id"].iloc[0]) % 8],
             "payload": [payload]}
        )

    bundled = per_doc.groupBy(
        (F.col("archive_id") % 8).alias("__bundle")
    ).applyInPandas(bundle_gz, "archive_id long, payload binary")
    recs = warc_records_segmented(bundled, max_chunk_bytes=4096)
    return (
        recs.filter((F.col("rec_type") == "response")
                    & (F.col("http_status") == 200))
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("bigint").alias("doc_id"),
            "target_uri",
            "http_status",
            html_text_col(F.col("body")).alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )


@register(
    "web_warc_stats",
    oracle="""
SELECT rec_type, CAST(COUNT(*) AS BIGINT) AS n_records
FROM (
  SELECT doc_id, unnest(['warcinfo', 'request', 'response']) AS rec_type
  FROM documents
) GROUP BY rec_type ORDER BY rec_type
""",
)
def web_warc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-type census over the parsed archives (the sanity pass a
    crawl ingest runs before extraction) — every synthetic archive
    carries exactly one warcinfo/request/response triple, which the
    oracle replays with an unnest."""
    from sqlpp_spark.ops.warc import synthesize_warc_media, warc_records

    d = table(spark, sf_dir, "documents")
    return (
        warc_records(synthesize_warc_media(d))
        .groupBy("rec_type")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("rec_type")
    )


def _crawl_ingest_oracle(cap: int = 10, p: int = 8) -> str:
    from sqlpp_spark.ops.hashing import hash64_sql
    from sqlpp_spark.ops.text import NORMALIZE_SQL, quality_score_sql
    from sqlpp_spark.ops.warc import html_text_sql

    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>"
        "<style>p {color: red}</style></head>"
        "<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>"
        "<!-- c' || CAST(doc_id AS VARCHAR) || ' -->"
        "<p>' || text || '</p>"
        "<script>var x = ' || CAST(doc_id AS VARCHAR) || ';</script>"
        "</body></html>'"
    )
    extracted = html_text_sql("html")
    h = hash64_sql("concat('s0', '|', CAST(doc_id AS VARCHAR))")
    rd = W.registrable_domain_psl_sql(
        f"lower({W.url_domain_sql('url')})", _PSL_RULES
    )
    norm_txt = NORMALIZE_SQL.format(c="text")
    return f"""
WITH u AS (SELECT doc_id, text, {_URL4_SQL} AS url FROM documents),
hdoc AS (SELECT doc_id, url, {html} AS html FROM u),
ext AS (SELECT doc_id, url, {extracted} AS text FROM hdoc),
hst AS (SELECT doc_id, text, {rd} AS host FROM ext),
capped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY host ORDER BY {h} ASC, doc_id ASC)
             AS rk
    FROM hst
  ) WHERE rk <= {cap}
),
norm AS (SELECT doc_id, {norm_txt} AS s FROM capped),
toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM norm),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
         array_to_string(
           t[CAST(g.i*{p}+1 AS BIGINT):CAST(least((g.i+1)*{p}, len(t)) AS BIGINT)],
           ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{p}.0) AS BIGINT) - 1)) AS g(i)
),
hashed AS (
  SELECT doc_id, chunk_id, {hash64_sql("chunk_text")} AS ph FROM chunks
),
winners AS (
  SELECT doc_id, chunk_id FROM (
    SELECT doc_id, chunk_id,
           ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, chunk_id) AS rk
    FROM hashed
  ) WHERE rk = 1
),
kept AS (
  SELECT c.doc_id, c.chunk_id, c.chunk_text
  FROM chunks c SEMI JOIN winners w
    ON c.doc_id = w.doc_id AND c.chunk_id = w.chunk_id
),
agg AS (
  SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_total FROM chunks GROUP BY doc_id
)
SELECT t.doc_id, a.clean_text, a.n_kept,
       t.n_total - a.n_kept AS n_dropped,
       {quality_score_sql('a.clean_text')} AS quality
FROM totals t JOIN agg a USING (doc_id)
WHERE a.n_kept > 0
"""


@register("pipeline_crawl_ingest", oracle=_crawl_ingest_oracle(),
          headline=True)
def pipeline_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE crawl-ingest pipeline, first mile to training
    corpus in ONE lazy plan: WARC archives (ISO 28500, PSL-variety
    target URIs) → record parse + HTTP split (Arrow-batched
    mapInPandas) → JVM-side HTML text extraction → per-domain quota on
    the DATA-DRIVEN public suffix list (broadcast hash joins, two-phase
    exact-k) → corpus-wide passage dedup → quality annotation. This is
    the composition a real Common-Crawl-style preparation runs; every
    stage's math is replayed independently by DuckDB (HTML rebuild +
    same RE2 chain + pure-CASE PSL + hash ranks + passage chain), so
    the end-to-end hash check covers container parsing, extraction,
    capping and dedup TOGETHER.

    r11: the record parse routes through ``warc_records_segmented``
    (the default scale path): record-boundary chunking bounds
    per-Arrow-batch bytes so a real ~1 GB Common-Crawl segment cannot
    re-open the single-row batch-bytes hazard, and chunks repartition
    across tasks. Measured faster than the direct reader on a 64 MB
    archive (WARC_SEGMENT_REHEARSAL.json); identical record rows, so
    the end-to-end oracle is unchanged.

    r12 (profile-driven, PROFILE_pipeline_crawl_ingest.json): the
    stage profile attributed 29% of wall time to the domain cap —
    whose two-phase exact-k windows were shuffling full document TEXT
    through both rank exchanges. The extracted docs frame now persists
    MEMORY_AND_DISK once (it feeds the cap's rank input AND the final
    text path), ranking runs over a NARROW (doc_id, host) projection,
    and the picks semi-join back by id — AQE broadcasts the picks side
    at this scale; at 100 TB the semi-join degrades to one id-keyed
    shuffle of text, the same single text movement the old phase-1
    exchange paid, while the rank shuffles become metadata-only.
    Output proven identical; capstone median dropped outside spread."""
    from pyspark import StorageLevel

    from sqlpp_spark.ops import dedup as D
    from sqlpp_spark.ops import text as X
    from sqlpp_spark.ops.corpus import exact_k_sample
    from sqlpp_spark.ops.warc import html_text_col, synthesize_warc_records

    d = _with_url4(table(spark, sf_dir, "documents"))
    # r19: synthesize→segment→parse run FUSED in one mapInPandas (the
    # spread=False shape — per-document archives never split): the
    # WARC bytes never cross the Arrow boundary, and the plan carries
    # one Python stage instead of three (rows identical by
    # construction, pinned in tests/test_warc.py)
    recs = synthesize_warc_records(d, uri_col="url").filter(
        (F.col("rec_type") == "response") & (F.col("http_status") == 200)
    )
    docs = recs.select(
        F.col("archive_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        html_text_col(F.col("body")).alias("text"),
    )
    docs = own(docs.persist(StorageLevel.MEMORY_AND_DISK))
    docs.count()  # eager: rank + text branches would race a lazy persist
    psl = W.psl_rules_df(spark, _PSL_RULES)
    narrow = W.with_registrable_domain(
        docs.select(
            "doc_id", F.lower(W.url_domain(F.col("url"))).alias("__h0")
        ),
        "__h0", psl, "__host",
    ).drop("__h0")
    picks = exact_k_sample(
        narrow, k=10, group_col="__host", key_col="doc_id",
        salt="s0", n_buckets=64,
    ).select("doc_id")
    capped = docs.drop("url").join(picks, "doc_id", "left_semi")
    cleaned = D.passage_dedup(capped, passage_tokens=8)
    return cleaned.filter(F.col("n_kept") > 0).select(
        "doc_id", "clean_text", "n_kept", "n_dropped",
        X.quality_score(F.col("clean_text")).alias("quality"),
    )


@register(
    "pipeline_robots_filter",
    oracle="""
WITH urls AS (
  SELECT doc_id, u.i AS url_idx FROM documents,
         LATERAL (SELECT unnest(generate_series(0, 3)) AS i) u
)
SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
       CASE url_idx
            WHEN 0 THEN '/'
            WHEN 1 THEN '/blocked' || CAST(doc_id % 3 AS VARCHAR) || '/page'
            WHEN 2 THEN '/blocked' || CAST(doc_id % 3 AS VARCHAR)
                 || '/except/page'
            ELSE '/other/data.bin'
       END AS path,
       (url_idx <> 1 AND NOT (url_idx = 3 AND doc_id % 2 = 0))
           AS allowed
FROM urls
""",
)
def pipeline_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED robots.txt compliance filter (RFC 9309, r11): the
    crawl-politeness step between URL discovery and ingest. Per host a
    closed-form robots.txt (disallow /blocked{id%3}/, allow its
    /except/ subtree back, and on even ids a wildcard '/*.bin$' ban)
    governs four URLs; DuckDB recomputes the allow/deny decisions from
    the formulas. The Spark side exercises the full surface: group
    parsing, longest-match precedence (the allow rule is LONGER than
    the disallow it overrides), '*' + '$' wildcard rules, and the
    host join with per-batch rule caching."""
    from sqlpp_spark.ops.web import robots_filter

    d = table(spark, sf_dir, "documents").select("doc_id")
    urls = d.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host"),
        F.explode(F.array(
            F.lit("/"),
            F.concat(F.lit("/blocked"),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit("/page")),
            F.concat(F.lit("/blocked"),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit("/except/page")),
            F.lit("/other/data.bin"),
        )).alias("path"),
    )
    robots = d.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /blocked"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("/\nAllow: /blocked"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("/except/\n"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit("Disallow: /*.bin$\n")).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    return robots_filter(urls, robots).select("host", "path", "allowed")


# -- link-graph PageRank (r12) ------------------------------------------------


def _pagerank_oracle(n_iter: int = 5, damping_pct: int = 85,
                     unit: int = 10**9) -> str:
    """Unrolled-CTE DuckDB replay of the fixed-point PageRank: the
    synthetic link graph (1 + doc_id%3 out-edges per doc, targets
    (doc_id*7 + 13*c) % N), then n_iter exact integer power
    iterations — every division floors, every sum is integral, so the
    replay matches the Spark op bit-for-bit with no float tolerance."""
    base = (unit * (100 - damping_pct)) // 100
    ctes = [
        "cnt AS (SELECT COUNT(*) AS n FROM documents)",
        "edges AS (SELECT d.doc_id AS src, "
        "(d.doc_id * 7 + 13 * c.i) % cnt.n AS dst "
        "FROM documents d, cnt, "
        "LATERAL (SELECT unnest(generate_series(1, 1 + d.doc_id % 3)) "
        "AS i) c)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges "
        "UNION SELECT DISTINCT dst FROM edges)",
        "outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM edges GROUP BY src)",
        f"pr0 AS (SELECT node, CAST({unit} AS BIGINT) AS pr FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(
            f"pr{k} AS (SELECT n.node, CAST({base} + "
            f"({damping_pct} * COALESCE(s.c, 0)) // 100 AS BIGINT) AS pr "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst, CAST(SUM(p.pr // o.deg) AS BIGINT) AS c "
            f"FROM edges e JOIN pr{k - 1} p ON p.node = e.src "
            f"JOIN outdeg o ON o.src = e.src GROUP BY e.dst) s "
            f"ON s.dst = n.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, pr FROM pr{n_iter}"
    )


@register("web_pagerank", oracle=_pagerank_oracle())
def web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED link-graph PageRank (r12): 5 fixed-point integer power
    iterations over a synthetic document link graph (every doc links
    to 1-3 formula targets, so no dangling nodes). Integer micro-unit
    masses make the iteration order-independent and exactly
    SQL-replayable — DuckDB re-runs all 5 iterations as unrolled CTEs
    and the driver's value-hash must match bit-for-bit, which a
    float formulation could never promise. The Spark op is the
    connected-components shape: persisted adjacency, one narrow
    shuffle per iteration, localCheckpoint keeps the plan flat."""
    from sqlpp_spark.ops.web import pagerank

    d = table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + F.col("doc_id") % 3)
        ).alias("__c"),
    ).select(
        "src",
        ((F.col("src") * 7 + 13 * F.col("__c")) % n).alias("dst"),
    )
    return pagerank(edges, n_iter=5)


def _label_prop_oracle(n_iter: int = 3) -> str:
    """Unrolled-CTE DuckDB replay of deterministic label propagation
    over the synthetic link graph: seeds doc_id%7==0 -> doc_id%5, the
    same composite-key argmax (min((2^20-cnt)*4096+label) % 4096) and
    the same seed/new/previous coalesce per iteration."""
    ctes = [
        "cnt AS (SELECT COUNT(*) AS n FROM documents)",
        "edges AS (SELECT d.doc_id AS src, "
        "(d.doc_id * 7 + 13 * c.i) % cnt.n AS dst "
        "FROM documents d, cnt, "
        "LATERAL (SELECT unnest(generate_series(1, 1 + d.doc_id % 3)) "
        "AS i) c)",
        "sym AS (SELECT src AS s, dst AS t FROM edges "
        "UNION ALL SELECT dst, src FROM edges)",
        "nodes AS (SELECT DISTINCT s AS node, "
        "CASE WHEN s % 7 = 0 THEN s % 5 END AS seed FROM sym)",
        "lab0 AS (SELECT node, CAST(seed AS BIGINT) AS label FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(
            f"lab{k} AS (SELECT n.node, "
            f"CAST(COALESCE(n.seed, b.new, p.label) AS BIGINT) AS label "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT g.t, CAST(min((1048576::BIGINT - g.c) * 4096 "
            f"+ g.label) % 4096 AS BIGINT) AS new FROM ("
            f"SELECT m.t, m.label, CAST(COUNT(*) AS BIGINT) AS c "
            f"FROM (SELECT s.t, l.label FROM sym s "
            f"JOIN lab{k - 1} l ON l.node = s.s "
            f"WHERE l.label IS NOT NULL) m GROUP BY m.t, m.label) g "
            f"GROUP BY g.t) b ON b.t = n.node "
            f"LEFT JOIN lab{k - 1} p ON p.node = n.node)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, label FROM lab{n_iter}")


@register("web_label_propagation", oracle=_label_prop_oracle())
def web_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED deterministic label propagation (r12): spread sparse
    seed labels (doc_id%7==0 -> doc_id%5) through the synthetic link
    graph for 3 iterations — the semi-supervised curation shape
    (propagating a small human-labeled quality set through a link or
    kNN graph). The tie-broken argmax is a single partial-aggregated
    integer min (no per-node window), and DuckDB replays every
    iteration exactly via unrolled CTEs."""
    from sqlpp_spark.ops.web import label_propagate

    d = table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + F.col("doc_id") % 3)
        ).alias("__c"),
    ).select(
        "src",
        ((F.col("src") * 7 + 13 * F.col("__c")) % n).alias("dst"),
    )
    seeds = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("node"),
        (F.col("doc_id") % 5).alias("label"),
    )
    return label_propagate(seeds, edges, n_iter=3)


@register(
    "web_triangle_clustering",
    oracle="""
WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
raw AS (
  SELECT d.doc_id AS src, (d.doc_id * 7 + 13 * c.i) % cnt.n AS dst
  FROM documents d, cnt,
       LATERAL (SELECT unnest(generate_series(1, 1 + d.doc_id % 3))
                AS i) c
),
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
  ) GROUP BY node
),
tri AS (
  -- brute-force 3-way join on canonical edges: a<b<c, each triangle
  -- exactly once — deliberately a DIFFERENT formulation from the
  -- Spark side's degree-oriented wedge join
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM canon e1
  JOIN canon e2 ON e2.a = e1.b
  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node, d.deg AS degree,
       COALESCE(p.t, 0) AS n_triangles,
       CASE WHEN d.deg >= 2 THEN
         CAST(2 * COALESCE(p.t, 0) AS DOUBLE)
           / CAST(d.deg * (d.deg - 1) AS DOUBLE)
       ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN per_node p ON p.node = d.node
""",
)
def web_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED triangle counting + local clustering coefficient (r12)
    over the synthetic link graph — the community-structure signal
    link-spam detection ranks by. The Spark side uses the
    degree-ORIENTED wedge join (each triangle found exactly once at
    its unique two-out-edge node, per-node wedge work bounded by the
    arboricity O(sqrt(m)) argument); DuckDB brute-forces the a<b<c
    3-way join — two independent algorithms agreeing on every count
    AND on the one-division clustering double."""
    from sqlpp_spark.ops.web import triangle_counts

    d = table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + F.col("doc_id") % 3)
        ).alias("__c"),
    ).select(
        "src",
        ((F.col("src") * 7 + 13 * F.col("__c")) % n).alias("dst"),
    )
    return triangle_counts(edges)


def _ppr_oracle(n_iter: int = 5, damping_pct: int = 85,
                unit: int = 10**9) -> str:
    """Unrolled-CTE replay of PERSONALIZED PageRank: teleport base and
    initial mass only on seed nodes (node % 11 == 0), same exact
    integer arithmetic as the uniform oracle."""
    base = (unit * (100 - damping_pct)) // 100
    ctes = [
        "cnt AS (SELECT COUNT(*) AS n FROM documents)",
        "edges AS (SELECT d.doc_id AS src, "
        "(d.doc_id * 7 + 13 * c.i) % cnt.n AS dst "
        "FROM documents d, cnt, "
        "LATERAL (SELECT unnest(generate_series(1, 1 + d.doc_id % 3)) "
        "AS i) c)",
        "nodes AS (SELECT DISTINCT node, node % 11 = 0 AS sd FROM ("
        "SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM edges GROUP BY src)",
        f"pr0 AS (SELECT node, CAST(CASE WHEN sd THEN {unit} ELSE 0 END "
        f"AS BIGINT) AS pr FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(
            f"pr{k} AS (SELECT n.node, "
            f"CAST((CASE WHEN n.sd THEN {base} ELSE 0 END) + "
            f"({damping_pct} * COALESCE(s.c, 0)) // 100 AS BIGINT) AS pr "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst, CAST(SUM(p.pr // o.deg) AS BIGINT) AS c "
            f"FROM edges e JOIN pr{k - 1} p ON p.node = e.src "
            f"JOIN outdeg o ON o.src = e.src GROUP BY e.dst) s "
            f"ON s.dst = n.node)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, pr FROM pr{n_iter}")


@register("web_pagerank_personalized", oracle=_ppr_oracle())
def web_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED personalized (TrustRank-style) PageRank (r12): teleport
    mass lands only on the trusted seed set (doc_id % 11 == 0), so
    steady-state mass measures proximity to trust — the link-spam
    demotion signal. Same fixed-point integer machinery as
    web_pagerank; DuckDB replays all 5 seeded iterations bit-for-bit."""
    from sqlpp_spark.ops.web import pagerank

    d = table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + F.col("doc_id") % 3)
        ).alias("__c"),
    ).select(
        "src",
        ((F.col("src") * 7 + 13 * F.col("__c")) % n).alias("dst"),
    )
    seeds = d.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("node")
    )
    return pagerank(edges, n_iter=5, seeds=seeds)


# -- link-graph BFS distances (r13) -------------------------------------------

_BFS_HOPS = 6
_BFS_SRC_MOD = 97


def _bfs_oracle(max_hops: int = _BFS_HOPS) -> str:
    """Unrolled-CTE full relaxation — after k rounds dk holds the
    exact min-hop distance for every node within k hops, identical to
    the Spark frontier result (in unweighted BFS the first visit is
    the shortest, so frontier and full relaxation agree round-for-
    round)."""
    ctes = [
        "cnt AS (SELECT COUNT(*) AS n FROM documents)",
        "edges AS (SELECT d.doc_id AS src, "
        "(d.doc_id * 7 + 13 * c.i) % cnt.n AS dst "
        "FROM documents d, cnt, "
        "LATERAL (SELECT unnest(generate_series(1, 1 + d.doc_id % 3)) "
        "AS i) c)",
        f"d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS hops "
        f"FROM documents WHERE doc_id % {_BFS_SRC_MOD} = 0)",
    ]
    for k in range(1, max_hops + 1):
        ctes.append(
            f"d{k} AS (SELECT node, MIN(hops) AS hops FROM ("
            f"SELECT node, hops FROM d{k - 1} "
            f"UNION ALL "
            f"SELECT e.dst AS node, p.hops + 1 AS hops "
            f"FROM edges e JOIN d{k - 1} p ON p.node = e.src"
            f") GROUP BY node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, CAST(hops AS BIGINT) AS hops FROM d{max_hops}"
    )


@register("web_bfs_distance", oracle=_bfs_oracle())
def web_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the synthetic link graph
    (sources: every 97th doc). Frontier propagation — settled nodes
    never re-expand; only (id, hop) pairs shuffle. The DuckDB oracle
    replays the rounds as unrolled full-relaxation CTEs, which agree
    with the frontier form round-for-round in unweighted graphs. See
    ops/web.py bfs_distance."""
    from sqlpp_spark.ops.web import bfs_distance

    d = table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + F.col("doc_id") % 3)
        ).alias("__c"),
    ).select(
        "src",
        ((F.col("src") * 7 + 13 * F.col("__c")) % n).alias("dst"),
    )
    sources = d.filter(F.col("doc_id") % _BFS_SRC_MOD == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_distance(edges, sources, max_hops=_BFS_HOPS)
