"""Web-corpus hygiene: URL parsing and domain blocklist filtering.

A crawl-scale pipeline drops documents whose host matches a blocklist
(exact host or any subdomain). The blocklist is tiny (10⁴–10⁶ rows)
next to the corpus, so it BROADCASTS and the corpus never shuffles.

Scale design — hash anti-joins, not nested loops
------------------------------------------------
The naive formulation ``ANTI JOIN ON host = domain OR host ENDSWITH
'.'||domain`` is a non-equi condition, which Spark can only execute as
a BroadcastNestedLoopJoin: O(|blocklist|) string compares **per corpus
row** — fine at 10³ blocked domains, a scan-stage CPU wall at 10⁶.

Instead we exploit that "host is domain or a subdomain of domain" ≡
"the last L labels of host equal domain", where L is the label count
of the blocked domain. Blocklists contain only a handful of distinct
label counts (example.com → 2, sub.example.co.uk → 4), so:

    for each distinct L in the blocklist:
        corpus = corpus ANTI JOIN (broadcast blocked_L)
                 ON substring_index(host, '.', -L) = domain

Each step is a Broadcast**Hash**Join (LeftAnti) — one O(1) hash probe
per row per L, zero shuffles, corpus text never moves. The distinct-L
set is read off the blocklist at plan-build time (a count-distinct on
the small side; the blocklist is broadcast-sized by assumption).

The host is pulled out of the URL with one regexp (syntax shared
verbatim with the DuckDB oracle; no lookaround, so Java regex and RE2
agree).

The reference (andreypopp/sqlpp) has no web operators — this extends
the training-data-pipeline surface (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqlpp_spark.ops import ensure_parallelism
from sqlpp_spark.session import own

# scheme://[user@]host[:port]/... -> capture group 1 = host
URL_DOMAIN_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"


def url_domain(c: Column) -> Column:
    """Host component of a URL (empty string when the regex misses —
    same convention as DuckDB's regexp_extract)."""
    return F.regexp_extract(c, URL_DOMAIN_RE, 1)


def url_domain_sql(c: str) -> str:
    return f"regexp_extract({c}, '{URL_DOMAIN_RE}', 1)"


# URL component regexes — shared verbatim with the DuckDB twins (no
# lookaround, so Java regex and RE2 agree)
_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/?#]+)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# Anchored scan from the start past non-'?'/'#' chars: the query is
# captured only when a '?' occurs BEFORE any '#', so a '?' inside the
# fragment ('http://h/p#frag?x=1') is not mistaken for a query.
_URL_QUERY_RE = r"^[^#?]*\?([^#]*)"

# tracking parameters every crawl pipeline strips before URL-keyed dedup
_TRACKING_PREFIXES = ("utm_",)
_TRACKING_KEYS = ("fbclid", "gclid", "msclkid", "ref")


def _is_tracking_param(x: Column) -> Column:
    cond = x.startswith(_TRACKING_PREFIXES[0])
    for k in _TRACKING_KEYS:
        cond = cond | x.startswith(f"{k}=") | (x == k)
    return cond


def normalize_url(c: Column) -> Column:
    """Canonical URL form for URL-keyed dedup: lowercase scheme+host,
    default :80/:443 ports stripped, fragment dropped, tracking
    parameters (utm_*, fbclid, gclid, msclkid, ref) removed, remaining
    query parameters SORTED, trailing path slashes trimmed (bare host
    keeps '/'). Pure JVM string/array functions — runs in the scan
    stage, no UDF; identical arithmetic in ``normalize_url_sql`` so
    URL dedup stays oracle-checkable."""
    scheme = F.lower(F.regexp_extract(c, _URL_SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(c, _URL_HOSTPORT_RE, 1))
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).when(
        scheme == "https", F.regexp_replace(host, ":443$", "")
    ).otherwise(host)
    path = F.regexp_extract(c, _URL_PATH_RE, 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(c, _URL_QUERY_RE, 1)
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != "") & ~_is_tracking_param(x),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def normalize_url_sql(c: str) -> str:
    """DuckDB twin of ``normalize_url`` (identical component regexes,
    filter set and sort)."""
    scheme = f"lower(regexp_extract({c}, '{_URL_SCHEME_RE}', 1))"
    host0 = f"lower(regexp_extract({c}, '{_URL_HOSTPORT_RE}', 1))"
    host = (
        f"(CASE WHEN {scheme} = 'http' THEN regexp_replace({host0}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({host0}, ':443$', '') "
        f"ELSE {host0} END)"
    )
    path0 = f"regexp_replace(regexp_extract({c}, '{_URL_PATH_RE}', 1), '/+$', '')"
    path = f"(CASE WHEN {path0} = '' THEN '/' ELSE {path0} END)"
    query = f"regexp_extract({c}, '^[^#?]*\\?([^#]*)', 1)"
    track = (
        "x LIKE 'utm\\_%' ESCAPE '\\' OR x LIKE 'fbclid=%' OR x = 'fbclid' "
        "OR x LIKE 'gclid=%' OR x = 'gclid' OR x LIKE 'msclkid=%' "
        "OR x = 'msclkid' OR x LIKE 'ref=%' OR x = 'ref'"
    )
    params = (
        f"list_filter(string_split({query}, '&'), "
        f"x -> NOT (x = '' OR {track}))"
    )
    # COALESCE: DuckDB's array_to_string(list_sort([])) is NULL where
    # Spark's array_join([]) is ''
    qs = f"COALESCE(array_to_string(list_sort({params}), '&'), '')"
    return (
        f"({scheme} || '://' || {host} || {path} || "
        f"(CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END))"
    )


# Public-suffix-lite: multi-label public suffixes under which the
# registrable domain (eTLD+1) needs one extra label. Subset of the
# public suffix list (publicsuffix.org) covering the common ccTLD
# second-level registries; single-label TLDs are the default case.
# Inlined as plan literals (like the tracking keys) so both the Spark
# expression and the DuckDB twin stay UDF-free and bit-identical.
_PSL2 = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "org.mx", "net.mx",
    "co.za", "org.za", "net.za", "web.za",
    "co.nz", "net.nz", "org.nz",
    "co.kr", "or.kr", "ne.kr", "go.kr",
    "com.tw", "org.tw", "idv.tw",
    "com.sg", "org.sg", "net.sg",
    "com.hk", "org.hk", "net.hk",
    "com.ar", "org.ar", "net.ar",
    "com.tr", "org.tr", "net.tr",
    "co.il", "org.il", "net.il",
    "com.ua", "net.ua", "org.ua",
)


# IPv4 literal: label arithmetic must not apply (1.2.3.4 and 5.6.3.4
# would otherwise collapse into one '3.4' quota key)
_IPV4_RE = r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$"


def registrable_domain(host: Column) -> Column:
    """eTLD+1 of a (lowercased) host: the last two labels, or three
    when the last two form a multi-label public suffix (PSL-lite).
    IP-literal hosts are their own registrable domain (no label
    arithmetic — real PSL implementations special-case IPs). Pure
    ``substring_index``/regexp arithmetic — scan stage, no UDF, no
    join. A host with fewer labels than needed resolves to itself
    (both Spark's substring_index and DuckDB's list_slice clamp)."""
    last2 = F.substring_index(host, ".", -2)
    return (
        F.when(host.rlike(_IPV4_RE), host)
        .when(last2.isin(*_PSL2), F.substring_index(host, ".", -3))
        .otherwise(last2)
    )


def registrable_domain_sql(host: str) -> str:
    """DuckDB twin of ``registrable_domain`` (list_slice clamps at the
    list bounds exactly like substring_index — verified)."""
    last2 = f"array_to_string(list_slice(string_split({host}, '.'), -2, -1), '.')"
    last3 = f"array_to_string(list_slice(string_split({host}, '.'), -3, -1), '.')"
    vals = ", ".join(f"'{s}'" for s in _PSL2)
    return (
        f"(CASE WHEN regexp_matches({host}, '{_IPV4_RE}') THEN {host} "
        f"WHEN {last2} IN ({vals}) THEN {last3} ELSE {last2} END)"
    )


def dedup_by_url(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id",
) -> DataFrame:
    """URL-keyed exact dedup: one row per NORMALIZED url (min id wins).
    Only (id, normalized-url-hash-sized strings) shuffle for the argmin
    — the row payload joins back by id. The crawl-ingest step that runs
    before any content dedup."""
    norm = df.select(F.col(id_col), normalize_url(F.col(url_col)).alias("__u"))
    keep = norm.groupBy("__u").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def psl_rules_df(spark, rules) -> DataFrame:
    """Parse public-suffix-list rule lines (publicsuffix.org format)
    into the frame ``with_registrable_domain`` consumes: one row per
    rule with ``(suffix, kind)``, kind ∈ {rule, wildcard, exception}.
    Comments (``//``) and blank lines are skipped, so a file's lines
    can be passed verbatim. Only leading-``*`` wildcards are supported
    (the only form the real PSL contains).

    The parsed rows are also stashed on the frame
    (``_sqlpp_psl_rows``) so ``with_registrable_domain`` can derive
    its per-label-count join plan WITHOUT running a Spark job at plan
    time (guide §1.2/§5.3 — the r19 #11 decide-job-free treatment):
    the frame is born from a driver-local list, so the distinct label
    counts are plain Python over the same rows the frame carries."""
    parsed = _parse_psl_rules(rules)
    df = spark.createDataFrame(parsed, "suffix string, kind string")
    df._sqlpp_psl_rows = parsed
    return df


def with_registrable_domain(
    df: DataFrame, host_col: str, psl: DataFrame, out_col: str,
) -> DataFrame:
    """Add ``out_col`` = eTLD+1 of ``host_col`` resolved against a
    full public-suffix list — wildcard (``*.ck``) and exception
    (``!www.ck``) rules included, per the publicsuffix.org algorithm
    (exception rule prevails; else the matching rule with most labels;
    else the implicit ``*`` default). ``psl`` is a ``psl_rules_df``
    frame: (suffix, kind ∈ {rule, wildcard, exception}).

    Scale shape mirrors ``filter_blocked_domains``: one broadcast
    HASH left-join per distinct suffix label count in the list (the
    real PSL has ≤ 5), each an O(1) probe per corpus row keyed on
    ``substring_index(host, '.', -L)`` — no UDF, no shuffle of the
    corpus, no nested loop. The tiny distinct-label-count enumeration
    runs on the broadcast-sized PSL only.

    Matched-rule → public-suffix label count: a plain rule of L labels
    yields L; a wildcard whose base has L labels yields L+1 (the ``*``
    consumes one host label, so it only applies when the host has
    > L labels); an exception of L labels yields L-1. A host that IS
    a public suffix (or an IPv4 literal) resolves to itself, same as
    ``registrable_domain``."""
    host = F.col(host_col)
    rules = psl.select(
        F.col("suffix"),
        F.size(F.split(F.col("suffix"), r"\.")).alias("__nl"),
        F.col("kind"),
    )
    # per (label-count, suffix): the public-suffix label count each
    # kind would imply, pre-aggregated so the join key is unique
    per_key = rules.groupBy("__nl", "suffix").agg(
        F.min(F.when(F.col("kind") == "exception", F.col("__nl") - 1)).alias("__exc"),
        F.max(F.when(F.col("kind") == "rule", F.col("__nl"))).alias("__ps"),
        F.max(
            F.when(F.col("kind") == "wildcard", F.col("__nl") + 1)
        ).alias("__wps"),
    )
    # Distinct suffix label counts drive the join-per-count loop. A
    # psl_rules_df frame carries its driver-local rows, so the counts
    # are plain Python — ZERO plan-time Spark jobs (measured 0.4-2.2 s
    # per builder invocation for the collect below; guide §1.2, §5.3).
    # Python str.split(".") and Spark split(col, '\\.') agree on every
    # dot-separated suffix, so the derived counts are identical to the
    # collected ones (pinned in tests/test_web.py).
    local_rows = getattr(psl, "_sqlpp_psl_rows", None)
    if local_rows is not None:
        label_counts = sorted({len(s.split(".")) for s, _kind in local_rows})
    else:  # arbitrary PSL frame: the bounded metadata-scale collect
        label_counts = sorted(
            r[0] for r in per_key.select("__nl").distinct().collect()
        )
    out = df.withColumn("__hn", F.size(F.split(host, r"\.")))
    exc_cols, ps_cols = [], []
    for n in label_counts:
        p_n = F.broadcast(
            per_key.filter(F.col("__nl") == n).select(
                F.col("suffix").alias(f"__sfx{n}"),
                F.col("__exc").alias(f"__exc{n}"),
                F.col("__ps").alias(f"__ps{n}"),
                F.col("__wps").alias(f"__wps{n}"),
            )
        )
        out = out.join(
            p_n, F.substring_index(host, ".", -n) == F.col(f"__sfx{n}"), "left"
        )
        exc_cols.append(F.col(f"__exc{n}"))
        ps_cols.append(F.col(f"__ps{n}"))
        # a wildcard only applies when the host has a label for the
        # '*' itself beyond the matched base
        ps_cols.append(
            F.when(F.col("__hn") > n, F.col(f"__wps{n}"))
        )
    # exception prevails (most-labels first), else deepest match, else
    # the implicit '*' default rule (public suffix = last label)
    ps = F.coalesce(
        *reversed(exc_cols), F.greatest(*ps_cols, F.lit(1))
        if ps_cols
        else F.lit(1),
    )
    take = F.least(F.col("__hn"), ps + F.lit(1))
    rd = F.array_join(F.slice(F.split(host, r"\."), -take, take), ".")
    out = out.withColumn(
        out_col, F.when(host.rlike(_IPV4_RE), host).otherwise(rd)
    )
    drop = ["__hn"] + [
        c for n in label_counts for c in (f"__sfx{n}", f"__exc{n}", f"__ps{n}", f"__wps{n}")
    ]
    return out.drop(*drop)


def _parse_psl_rules(rules):
    """Shared rule-line parser for psl_rules_df / the SQL twin."""
    parsed = []
    for line in rules:
        r = line.strip().lower()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            parsed.append((r[1:], "exception"))
        elif r.startswith("*."):
            parsed.append((r[2:], "wildcard"))
        elif "*" in r:
            raise ValueError(f"unsupported wildcard position in PSL rule: {line!r}")
        else:
            parsed.append((r, "rule"))
    return parsed


def registrable_domain_psl_sql(host: str, rules) -> str:
    """DuckDB twin of ``with_registrable_domain`` for a FIXED rule
    list — pure CASE/list arithmetic (no joins), so an oracle can
    verify the Spark-side broadcast-join machinery against an
    INDEPENDENT formulation of the publicsuffix.org algorithm."""
    from collections import defaultdict

    plain, wild, exc = defaultdict(list), defaultdict(list), defaultdict(list)
    for s, kind in _parse_psl_rules(rules):
        n = s.count(".") + 1
        {"rule": plain, "wildcard": wild, "exception": exc}[kind][n].append(s)
    hn = f"len(string_split({host}, '.'))"

    def lastn(n: int) -> str:
        return (
            f"array_to_string(list_slice(string_split({host}, '.'), "
            f"-{n}, -1), '.')"
        )

    exc_terms, ps_terms = [], []
    for n in sorted(set(plain) | set(wild) | set(exc), reverse=True):
        ln = lastn(n)
        if n in exc:
            vals = ", ".join(f"'{s}'" for s in sorted(exc[n]))
            exc_terms.append(f"CASE WHEN {ln} IN ({vals}) THEN {n - 1} END")
        if n in plain:
            vals = ", ".join(f"'{s}'" for s in sorted(plain[n]))
            ps_terms.append(f"CASE WHEN {ln} IN ({vals}) THEN {n} END")
        if n in wild:
            vals = ", ".join(f"'{s}'" for s in sorted(wild[n]))
            ps_terms.append(
                f"CASE WHEN {ln} IN ({vals}) AND {hn} > {n} THEN {n + 1} END"
            )
    # exception prevails (most labels first), else deepest match, else
    # the implicit '*' default; GREATEST ignores NULLs in DuckDB and
    # Spark alike
    ps_all = ", ".join(ps_terms + ["1"])
    ps = "COALESCE(" + ", ".join(exc_terms + [f"GREATEST({ps_all})"]) + ")"
    take = f"LEAST({hn}, {ps} + 1)"
    rd = (
        f"array_to_string(list_slice(string_split({host}, '.'), "
        f"-({take}), -1), '.')"
    )
    return (
        f"(CASE WHEN regexp_matches({host}, '{_IPV4_RE}') "
        f"THEN {host} ELSE {rd} END)"
    )


def domain_cap(
    df: DataFrame, cap: int, url_col: str = "url", id_col: str = "doc_id",
    salt: str = "s0", n_buckets: int = 64, psl: DataFrame | None = None,
) -> DataFrame:
    """At most ``cap`` documents per REGISTRABLE domain (eTLD+1) — the
    per-domain quota every crawl corpus applies so no single site
    dominates. Quotas key on ``registrable_domain`` (PSL-lite), not the
    full host, so ``a.example.com`` and ``b.example.com`` share one
    quota and a site cannot evade the cap by minting subdomains.
    Deterministic salted-hash priority via the two-phase exact-k
    machinery (ops/corpus.exact_k_sample): no task ever sorts a whole
    domain's rows, picks are stable under corpus growth. Hosts are
    lowercased so case variants of one domain share a quota.

    ``psl``: an optional ``psl_rules_df`` frame carrying a full public
    suffix list (wildcard/exception rules, private suffixes like
    github.io). When given, quotas key on the list-resolved eTLD+1 via
    broadcast hash joins; the no-argument default stays the inlined
    PSL-lite literals so the registered oracle remains UDF- and
    join-free on both engines."""
    from sqlpp_spark.ops.corpus import exact_k_sample

    if psl is not None:
        with_host = with_registrable_domain(
            df.withColumn("__h0", F.lower(url_domain(F.col(url_col)))),
            "__h0", psl, "__host",
        ).drop("__h0")
    else:
        with_host = df.withColumn(
            "__host", registrable_domain(F.lower(url_domain(F.col(url_col))))
        )
    return exact_k_sample(
        with_host, k=cap, group_col="__host", key_col=id_col,
        salt=salt, n_buckets=n_buckets,
    ).drop("__host")


def filter_blocked_domains(
    df: DataFrame, blocklist: DataFrame, url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose URL host equals a blocked domain OR is a
    subdomain of one.

    One broadcast hash anti-join per distinct label count in the
    blocklist (see module docstring): each is an O(1) probe per corpus
    row, the plan contains no nested-loop or shuffle node, and the
    corpus side stays in place at any scale. The tiny
    ``count-distinct`` used to enumerate label counts runs on the
    blocklist only (broadcast-sized by assumption).
    """
    host = url_domain(F.col(url_col))
    b = blocklist.select(
        F.col(domain_col).alias("__blocked"),
        F.size(F.split(F.col(domain_col), r"\.")).alias("__nlabels"),
    )
    # Same job-free fast path as with_registrable_domain: a blocklist
    # born from a driver-local list carries ``_sqlpp_local_domains``,
    # so the label counts need no plan-time Spark job (guide §1.2).
    local = getattr(blocklist, "_sqlpp_local_domains", None)
    if local is not None:
        label_counts = sorted({len(d.split(".")) for d in local})
    else:
        label_counts = sorted(
            r[0] for r in b.select("__nlabels").distinct().collect()
        )
    out = df
    for n in label_counts:
        b_n = F.broadcast(
            b.filter(F.col("__nlabels") == n).select("__blocked")
        )
        out = out.join(
            b_n,
            on=F.substring_index(host, ".", -n) == F.col("__blocked"),
            how="left_anti",
        )
    return out


# ---------------------------------------------------------------------------
# robots.txt compliance (RFC 9309) — the crawl-politeness filter a
# training-data pipeline runs between URL discovery and fetch/ingest.
# Parsing and longest-match evaluation follow the RFC: groups are
# user-agent lines followed by allow/disallow rules (same-token groups
# merge); '*' in a rule matches any character run and a trailing '$'
# anchors the end; the most specific (longest-pattern) matching rule
# wins, allow winning ties; no matching group or rule means allowed.
# Group selection picks the longest group token that prefixes the
# crawler's product token case-insensitively, falling back to '*' (the
# common implementation of the RFC's "most specific match" language).
# ---------------------------------------------------------------------------


def parse_robots(txt: str, agent: str = "*") -> list:
    """[(is_allow, pattern), ...] — the merged rule group that governs
    ``agent``. Directives are case-insensitive; comments (#) and
    unknown directives are ignored per the RFC."""
    groups: dict[str, list] = {}
    current_tokens: list[str] = []
    seen_rule_after_agents = True
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if seen_rule_after_agents:
                current_tokens = []
                seen_rule_after_agents = False
            current_tokens.append(value.lower())
            for tok in current_tokens:
                groups.setdefault(tok, [])
        elif key in ("allow", "disallow"):
            seen_rule_after_agents = True
            if not value and key == "disallow":
                # "Disallow:" (empty) = allow everything; record
                # nothing so the default-allow applies.
                continue
            for tok in current_tokens:
                groups.setdefault(tok, []).append(
                    (key == "allow", value)
                )
        # Unknown directives (Sitemap, Crawl-delay, ...) are ignored
        # entirely — they neither join the group nor terminate the
        # user-agent run, matching Google's reference robotstxt parser:
        # "User-agent: a / Sitemap: x / User-agent: b / Disallow: /y"
        # is ONE group governing both a and b.
    al = agent.lower()
    best_tok = None
    for tok in groups:
        if tok != "*" and al.startswith(tok):
            if best_tok is None or len(tok) > len(best_tok):
                best_tok = tok
    if best_tok is None and "*" in groups:
        best_tok = "*"
    return groups.get(best_tok, []) if best_tok is not None else []


def _robots_pattern_matches(pattern: str, path: str) -> bool:
    """Linear-space greedy wildcard match ('*' = any run, trailing '$'
    anchors the end; otherwise prefix semantics). robots.txt is
    untrusted crawled-host content, so this deliberately avoids
    Python's backtracking ``re`` — a star-heavy 50-byte rule against a
    regex matcher hangs for seconds (exponential backtracking), which
    would wedge an executor. The classic last-star two-pointer
    algorithm is O(len(pattern) * len(path)) worst case and linear in
    practice."""
    if pattern.endswith("$"):
        pattern = pattern[:-1]
    else:
        # Unanchored rules are prefix matches: full-matching
        # pattern+'*' is equivalent and lets one routine serve both.
        pattern = pattern + "*"
    n, m = len(pattern), len(path)
    pi = si = 0
    star = -1          # index in pattern of the most recent '*'
    star_si = 0        # path position that star is currently matching to
    while si < m:
        if pi < n and pattern[pi] == "*":
            star, star_si = pi, si
            pi += 1
        elif pi < n and pattern[pi] == path[si]:
            pi += 1
            si += 1
        elif star >= 0:
            star_si += 1
            pi, si = star + 1, star_si
        else:
            return False
    while pi < n and pattern[pi] == "*":
        pi += 1
    return pi == n


def robots_allowed(rules: list, path: str) -> bool:
    """Longest-match evaluation over a parsed rule group."""
    best_len = -1
    best_allow = True
    for allow, pat in rules:
        if _robots_pattern_matches(pat, path):
            ln = len(pat)
            if ln > best_len or (ln == best_len and allow
                                 and not best_allow):
                best_len = ln
                best_allow = allow
    return best_allow if best_len >= 0 else True


def robots_filter(
    urls: DataFrame, robots: DataFrame, agent: str = "*",
) -> DataFrame:
    """Annotate a (host, path) URL frame with ``allowed`` per each
    host's robots.txt ((host, robots_txt) frame; hosts without a
    robots row are allowed — the RFC's unavailable-means-allowed
    rule for 4xx). Scale shape: an equi-join on host (broadcast when
    the robots side is dimension-sized), then Arrow-batched evaluation
    with the parsed rule group cached per host within each batch —
    the text parses once per distinct host per batch, not per URL."""
    import pandas as pd

    joined = urls.join(robots, "host", "left")
    schema = "host string, path string, allowed boolean"

    def evaluate(batches):
        for pdf in batches:
            cache: dict = {}
            allowed = []
            for txt, path in zip(pdf["robots_txt"], pdf["path"]):
                if txt is None:
                    allowed.append(True)
                    continue
                rules = cache.get(txt)
                if rules is None:
                    rules = parse_robots(txt, agent)
                    cache[txt] = rules
                allowed.append(robots_allowed(rules, path))
            yield pd.DataFrame({
                "host": pdf["host"], "path": pdf["path"],
                "allowed": allowed,
            })

    return ensure_parallelism(
        joined.select("host", "path", "robots_txt")
    ).mapInPandas(evaluate, schema)


# ---------------------------------------------------------------------------
# link-graph PageRank (r12) — the web-scale quality-weighting primitive
# a crawl pipeline runs between link extraction and corpus scoring.
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    n_iter: int = 5, damping_pct: int = 85, unit: int = 10**9,
    seeds: "DataFrame | None" = None,
) -> DataFrame:
    """FIXED-POINT integer PageRank: ``n_iter`` power iterations of
    the per-node form ``pr[v] = (1-d) + d * Σ pr[u]/outdeg[u]`` with
    all mass in BIGINT micro-units (one node = ``unit``) and every
    division an integer floor — so results are EXACTLY reproducible,
    order-independent (integer sums commute; double sums do not), and
    SQL-oracle-checkable, at the cost of ≤ n_iter units of rounding
    per node (≤ 5e-9 of a unit at the default scale). Nodes are the
    distinct endpoints; self-loops participate normally; nodes with
    no out-edges drop their mass (the standard sink simplification —
    document-graph callers synthesize ≥1 out-edge per node).

    Scale shape (the connected_components pattern,
    ops/dedup.py): per iteration one join of the persisted (src, dst,
    outdeg) adjacency with the (node, pr) table and one partial-
    aggregated groupBy on dst — only 8-byte ids and masses shuffle;
    pr localCheckpoints each round so the plan does not grow with
    n_iter. Returns (node, pr) in micro-units.

    MEASURED (r13, tools/graph_rehearsal.py, hub-heavy power-law
    graph where one node holds ~12% of endpoints): 10x edges
    (150k -> 1.5M) cost 7.6 -> 8.6 s wall on local[32] with
    reduce-side max/median task ratios <= 1.7 — the hot dst key
    partial-aggregates map-side, so the hub never lands on one task."""
    adj = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .join(
            edges.groupBy(F.col(src).alias("s"))
            .agg(F.count(F.lit(1)).alias("__deg")),
            on="s",
        )
    )
    from pyspark import StorageLevel

    adj = own(adj.persist(StorageLevel.MEMORY_AND_DISK))
    adj.count()  # eager: one materialization serves every iteration
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    base = (unit * (100 - damping_pct)) // 100
    if seeds is not None:
        # PERSONALIZED (TrustRank) form: the teleport mass lands only
        # on seed nodes — link-spam scoring seeds on a trusted set and
        # reads low steady-state mass as "far from trust". Same exact
        # integer arithmetic; seed membership rides the node table as
        # a broadcast-joinable flag.
        sd = seeds.select(F.col(seeds.columns[0]).alias("node"))             .distinct().withColumn("__is_seed", F.lit(True))
        nodes = nodes.join(sd, on="node", how="left").select(
            "node", F.coalesce("__is_seed", F.lit(False)).alias("__is_seed")
        )
    else:
        nodes = nodes.withColumn("__is_seed", F.lit(True))
    nodes = nodes.localCheckpoint()
    base_col = F.when(F.col("__is_seed"), F.lit(base))         .otherwise(F.lit(0)).cast("bigint")
    pr = nodes.select(
        "node",
        F.when(F.col("__is_seed"), F.lit(unit)).otherwise(F.lit(0))
        .cast("bigint").alias("pr"),
    )
    for _i in range(n_iter):
        sums = (
            adj.join(pr, on=adj.s == pr.node)
            .select(F.col("t"), F.expr("pr div __deg").alias("__c"))
            .groupBy("t")
            .agg(F.sum("__c").alias("__in"))
        )
        pr = (
            nodes.join(sums, on=nodes.node == sums.t, how="left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(
                        f"({damping_pct} * coalesce(__in, 0)) div 100"
                    )
                ).cast("bigint").alias("pr"),
            )
            # r19 opt (guide §1.2/§2.4): the loop makes no driver
            # decision, so the checkpoint cut-points stay LAZY and
            # the whole chain runs as one job at the caller's action
            # (each iteration is one barrier fewer); an eager flush
            # every 4th iteration bounds plan depth for large n_iter.
            .localCheckpoint(eager=(_i % 4 == 3))
        )
    return pr


def label_propagate(
    seeds: DataFrame, edges: DataFrame, n_iter: int = 3,
    src: str = "src", dst: str = "dst",
    id_col: str = "node", label_col: str = "label",
) -> DataFrame:
    """Deterministic semi-supervised LABEL PROPAGATION over an
    undirected graph: seeded nodes keep their label forever; every
    other node adopts, per iteration, the most frequent label among
    its labeled neighbors, ties broken by the SMALLEST label — a
    fully deterministic variant of Raghavan et al.'s LPA, so results
    are exactly SQL-replayable (the curation shape: spread a small
    set of human quality labels through a link or kNN graph).

    Labels must be ints in [0, 4096) and per-(node,label) neighbor
    counts < 2^20 (asserted cheaply via the composite key): argmax
    with tie-break compiles to ``min((2^20 - cnt)*4096 + label)`` — a
    single partial-aggregated integer min, no per-node window/sort.
    One narrow shuffle per iteration; labels localCheckpoint so the
    plan stays flat. Returns (node, label) with label NULL for nodes
    never reached."""
    from pyspark import StorageLevel

    sym = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).unionByName(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()  # eager: reused every iteration
    seeds = seeds.select(
        F.col(id_col).alias("node"),
        F.col(label_col).cast("bigint").alias("__seed"),
    )
    nodes = (
        sym.select(F.col("s").alias("node")).distinct()
        .join(seeds, on="node", how="left")
        .localCheckpoint()
    )
    labels = nodes.select("node", F.col("__seed").alias("label"))
    cnt_max = 1 << 20
    for _i in range(n_iter):
        msgs = (
            sym.join(labels, on=sym.s == labels.node)
            .filter(F.col("label").isNotNull())
            .select(F.col("t"), F.col("label"))
        )
        best = (
            msgs.groupBy("t", "label")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .groupBy("t")
            .agg(
                (
                    F.min(
                        (F.lit(cnt_max) - F.col("__cnt")) * 4096
                        + F.col("label")
                    ) % 4096
                ).cast("bigint").alias("__new")
            )
        )
        prev = labels.select(
            F.col("node").alias("__pn"), F.col("label").alias("__prev")
        )
        labels = (
            nodes.join(best, on=nodes.node == best.t, how="left")
            .join(prev, on=nodes.node == prev.__pn, how="left")
            .select(
                "node",
                # seeds are immutable; otherwise adopt this round's
                # neighborhood majority; otherwise keep the previous
                # label (no labeled neighbor brings no new info)
                F.coalesce("__seed", "__new", "__prev").alias("label"),
            )
            # r19 opt: lazy cut-points, eager flush every 4th round —
            # same single-job rationale as pagerank above. The LAST
            # round is always eager: sym is unpersisted right below,
            # so the chain must be materialized before it goes.
            .localCheckpoint(eager=(_i % 4 == 3 or _i == n_iter - 1))
        )
    sym.unpersist()
    return labels


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Per-node TRIANGLE counts and local clustering coefficient over
    an undirected simple graph (edges canonicalized + deduped here) —
    the community-structure / link-spam signal (organic neighborhoods
    close triangles; spray-linked spam does not).

    Scale shape — the degree-orientation trick: orient every edge
    from its lower-(degree, id) endpoint to the higher one. Each
    triangle then has EXACTLY ONE node with two out-edges, so
    wedge-join(out, out on shared source) + edge-membership join
    counts each triangle once, and per-node out-degree in the
    orientation is O(√m) for any graph (arboricity bound) — the
    wedge explosion a hub node would cause under naive adjacency
    joins cannot happen. Joins shuffle 8-byte id pairs only.

    MEASURED (r13, tools/graph_rehearsal.py on a hub-heavy power-law
    graph, SKEW_REHEARSAL.json "graph_tier"): at 1.33M distinct edges
    the oriented wedge count is 1.40M (max oriented out-degree 21,
    vs sqrt(m) = 1153) while the naive adjacency wedge count is
    28.8B — 20,500x larger; growing edges 10x grew oriented wedges
    9.8x (linear) and naive wedges 99.6x (quadratic in the hub).
    Returns (node, degree, n_triangles, clustering) where clustering
    = 2T / (d(d-1)) (0.0 when d < 2) — one double division of exact
    integers, so even the float is bit-equal across engines."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    from pyspark import StorageLevel

    canon = own(canon.persist(StorageLevel.MEMORY_AND_DISK))
    canon.count()  # eager: degree + orientation + membership reuse it
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    withdeg = canon.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("__da").alias("d"), F.col("a").alias("n")) < \
        F.struct(F.col("__db").alias("d"), F.col("b").alias("n"))
    oriented = withdeg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        canon.select(F.col("a").alias("x"), F.col("b").alias("y")),
        on=["x", "y"],
    ).select("u", "x", "y")
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint")
            .alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )
    return out


def bfs_distance(
    edges: DataFrame, sources: DataFrame,
    src: str = "src", dst: str = "dst", node_col: str = "node",
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source BFS shortest hop counts over an unweighted link
    graph: every node reachable from ``sources`` within ``max_hops``
    gets its exact minimum hop distance (unreached nodes are absent).

    Scale shape: FRONTIER propagation, not full relaxation — round k
    joins the adjacency against only the nodes FIRST reached in round
    k-1 (in unweighted BFS the first visit is the shortest, so settled
    nodes never need re-expansion; an anti-join against the settled
    set keeps the frontier minimal). Only (id, hop) pairs shuffle;
    the settled table localCheckpoints per round so lineage stays
    flat; the adjacency persists once. Early-exits when a frontier
    empties. Integer hops — bit-exact in any engine.
    """
    from pyspark import StorageLevel

    adj = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    dist = sources.select(
        F.col(node_col).alias("node"), F.lit(0).cast("bigint").alias("hops")
    ).localCheckpoint()
    frontier = dist
    for _ in range(max_hops):
        cand = (
            adj.join(frontier, adj.s == frontier.node)
            .groupBy(F.col("t").alias("node"))
            .agg(F.min(F.col("hops") + 1).alias("hops"))
        )
        new = cand.join(dist.select("node"), on="node", how="left_anti")
        # r19 opt (guide §1.2): lazy checkpoint + count() — the count
        # job materializes the checkpoint blocks AND is the emptiness
        # probe, and the settled-union checkpoint stays lazy (it
        # materializes inside the NEXT hop's count job): one bounded
        # Spark job per hop instead of three (eager checkpoint +
        # isEmpty + eager union checkpoint).
        new = new.localCheckpoint(eager=False)
        if new.count() == 0:
            break
        dist = dist.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    adj.unpersist()
    return dist
