"""URL canonicalization + synthetic seed-URL generation (north rule).

Canonicalization is the first stage of the frontier: it must be a PURE
STRING FUNCTION (no network, no wall clock) so the URL-seen set and crawl
order are reproducible. All rules are regexp/string expressions that run
JVM-side in Spark (whole-stage codegen — canonicalizing 10^10 URLs is pure
map work, no shuffle) and identically in DuckDB for the oracle.

Rules implemented (standard crawler canon, cf. the reference's use of
WARC-Target-URI verbatim — canonicalization is part of the frontier
extension, SURVEY.md §7):
  1. strip fragment (#…)
  2. lowercase scheme and host
  3. drop default ports (:80, :443)
  4. resolve single-level dot segments (/a/../ → /)
  5. strip tracking params (utm_*, ref) — synthetic URLs place them last
  6. empty path → '/'

The synthetic seed generator derives URLs deterministically from the
driver's `orders` table so the DuckDB oracle can rebuild the identical
input with the same SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dialect import g_flag, rx
from ..plans.barrier import with_barrier_columns

_DOTSEG = r"/[^/]+/\.\./"


def synthetic_url_expr(dialect: str) -> str:
    """Messy raw URL from (o_orderkey, o_custkey): mixed case, default port,
    trailing tracking params, fragments, dot-segments."""
    cast_t = "VARCHAR" if dialect == "duckdb" else "STRING"
    host_n = f"CAST(o_custkey % 50 AS {cast_t})"
    key = f"CAST(o_orderkey AS {cast_t})"
    return (
        f"concat('HTTPS://Host', {host_n}, '.Example.COM:443',"
        f" CASE WHEN o_orderkey % 11 = 0 THEN '/x/../o/' ELSE '/o/' END,"
        f" {key},"
        f" CASE WHEN o_orderkey % 5 = 0 THEN concat('?id=', {key},"
        f"      '&utm_source=feed&utm_medium=rss&ref=home') ELSE '' END,"
        f" CASE WHEN o_orderkey % 7 = 0 THEN '#section-2' ELSE '' END)"
    )


# Tracking-param strip in TWO passes (cross-engine contract — mirrored in
# oracle.py_canonicalize):
#   pass 1 collapses any RUN of tracked params that is followed by a kept
#          param: '([?&])((?:utm_x=..&)+' -> separator — RE2 has no
#          lookbehind, so the separator is captured and re-emitted;
#   pass 2 drops the (now necessarily single) trailing tracked param.
# Run-collapsing makes one application complete for arbitrarily long runs
# (the old fixed-3-iteration pair cost 6 regex passes per URL — at 10^10
# URLs the canonicalize map is memory-bandwidth-bound, so passes are the
# unit of cost).
_TRACK_MID = r"([?&])((?:utm_[a-z]+|ref)=[^&#]*&)+"
_TRACK_TAIL = r"[?&](utm_[a-z]+|ref)=[^&#]*$"


def _strip_tracking(expr: str, dialect: str) -> str:
    """Remove utm_*/ref params ANYWHERE in the query string — identical in
    Spark / DuckDB / the Python oracle."""
    g = g_flag(dialect)
    br = "'$1'" if dialect == "spark" else "'\\1'"
    e = f"regexp_replace({expr}, '{_TRACK_MID}', {br}{g})"
    return f"regexp_replace({e}, '{_TRACK_TAIL}', ''{g})"


def _term_guard(expr: str) -> str:
    """TRUE iff ``expr`` contains a raw line terminator — identical
    primitive (instr/chr) in Spark and DuckDB, `in` in Python."""
    return f"(instr({expr}, chr(10)) > 0 OR instr({expr}, chr(13)) > 0)"


def canonicalize_expr(url: str, dialect: str) -> str:
    """Canonical URL from a raw URL expression. Identical regexes in Java
    (Spark) and RE2 (DuckDB); every multi-occurrence replace passes 'g' in
    DuckDB to match Spark's replace-all semantics.

    CONTRACT: input containing a raw line terminator (\\n or \\r) passes
    through UNCHANGED. Java, RE2 and Python disagree on what '$'-anchored
    patterns do around line terminators (Java's '$' matches before a final
    terminator, RE2's only at end-of-text), so anchored rewrites on such
    strings cannot be made engine-identical — and raw terminators are not
    valid URL characters anyway. The guard is a string primitive (instr),
    identical in all three engines; mirrored in oracle.py_canonicalize."""
    g = g_flag(dialect)

    # 1. strip fragment
    e = f"regexp_replace({url}, '#.*$', ''{g})"
    # 2+3. lowercase scheme://host and drop default port
    scheme = f"lower(regexp_extract({e}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    hostport = f"lower(regexp_extract({e}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    host = f"regexp_replace({hostport}, ':(443|80)$', ''{g})"
    pathq = f"regexp_extract({e}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1)"
    # 4. resolve single-level dot segments
    dotseg = rx(_DOTSEG, dialect)
    p1 = f"regexp_replace({pathq}, {dotseg}, '/'{g})"
    # 5. strip tracking params (anywhere in the query)
    p2 = _strip_tracking(p1, dialect)
    # dangling '?'/'&' cleanup, empty path → '/'
    p3 = f"regexp_replace({p2}, '[?&]$', ''{g})"
    path = f"CASE WHEN {p3} = '' THEN '/' ELSE {p3} END"
    # scheme-less/malformed input degrades to the fragment-stripped string
    # (mirrors oracle.py_canonicalize's `if not m: return e` fallback)
    return (
        f"CASE WHEN {_term_guard(url)} THEN {url} "
        f"WHEN {scheme} <> '' "
        f"THEN concat({scheme}, '://', {host}, {path}) ELSE {e} END"
    )


def host_expr(canon_url: str, dialect: str) -> str:
    """Host of a canonical URL: the run before the first of '/:?#' after a
    lowercase scheme (oracle.py_host semantics). Terminator-containing
    input (the canonicalize passthrough case) yields '' in every engine."""
    return (
        f"CASE WHEN {_term_guard(canon_url)} THEN '' "
        f"ELSE regexp_extract({canon_url}, '^[a-z][a-z0-9+.-]*://([^/:?#]*)', 1) END"
    )


def host_of_canon(canon_col: str = "url_canon") -> F.Column:
    """``host`` recomputed from a CANONICAL url column — byte-identical to
    the ``host`` column :func:`with_canonical` emits (asserted over the
    adversarial corpus in tests/test_frontier.py) and to py_host/host_expr.

    Why it exists: host is a pure function of url_canon, so the frontier's
    unseen chain (probe → dedup exchange → anti-join → union) never needs
    to CARRY it — filter_unseen moves only the URL string
    through the round's one big shuffle and callers re-attach host after
    with this one-regex map. At 10^10 URLs that is ~20 bytes/row removed
    from every exchange in the chain."""
    return F.expr(host_expr(canon_col, "spark"))


def with_canonical(df: DataFrame, raw_col: str = "url_raw") -> DataFrame:
    """Spark hot path: add ``url_canon`` + ``host`` via STAGED projections.

    The inline :func:`canonicalize_expr` repeats the fragment-strip regex in
    every component (scheme/host/path each re-strip the raw URL) because a
    single SQL expression can't share subtrees, and Spark performs no CSE
    when an alias is re-inlined. On top of the staging, every EXTRACTION
    regex is replaced by string primitives (substring_index / substr /
    endswith): once ``__valid`` certifies the terminator-free
    ``scheme://`` shape, the first '://' **is** the scheme boundary
    (scheme chars exclude ':' and '/'), the host-port is the run before the
    first of '/'/'?' in the remainder (terminator-free input has no '#'
    left after the fragment strip), and the path is the remainder after
    it. Only the genuine rewrite patterns stay regex (fragment strip,
    dot-segments, tracking params) — 6 regex ops per URL instead of ~11;
    at 10^10 URLs the canonicalize map is the single hottest expression
    chain in the frontier.

    Contract notes (all mirrored in canonicalize_expr / py_canonicalize /
    py_host; parity is asserted over an adversarial corpus in
    tests/test_frontier.py):
    - input with a raw line terminator passes through unchanged and gets
      host '' (see canonicalize_expr's CONTRACT note);
    - NULL input propagates NULL url_canon/host;
    - path offsets are computed on the UN-lowered host-port slice
      (lower() can change a string's length, e.g. U+0130 -> 'i'+U+0307);
    - ``host`` strips everything from the first ':' (substring_index),
      which is exactly py_host/host_expr semantics (``[^/:?#]*``); the old
      ':[0-9]+$' strip diverged from the oracle on a non-numeric port
      suffix."""
    out = df.withColumn("__e", F.expr(f"regexp_replace({raw_col}, '#.*$', '')"))
    # one anchored Java regex = "scheme:// prefix AND no terminator
    # anywhere" ('\z' = true end-of-input, immune to Java's $-before-final-
    # terminator rule). Semantically equal to (NOT _term_guard) AND the
    # scheme prefix check, but ~5x cheaper than the instr pair (instr is a
    # per-byte scan outside codegen's fast paths; measured 1.16s vs 0.53s
    # over 3M URLs on 4 pinned cores, vs 0.36s for the prefix check alone).
    # Spark-only expression — cross-engine parity is on VALUES, and the
    # adversarial corpus test pins it.
    out = out.withColumn(
        "__valid",
        F.expr(
            f"{raw_col} RLIKE '^[A-Za-z][A-Za-z0-9+.-]*://[^\\n\\r]*\\\\z'"
        ),
    )
    # substr(__e, 1, 0) is the null-propagating '': NULL input must yield
    # NULL url_canon/host exactly like the regexp-based inline expression
    out = out.withColumn(
        "__scheme",
        F.expr(
            "CASE WHEN __valid THEN lower(substring_index(__e, '://', 1)) "
            "ELSE substr(__e, 1, 0) END"
        ),
    )
    # remainder after 'scheme://' (lower() preserves a scheme's length:
    # schemes are ASCII by __valid's charset)
    out = out.withColumn(
        "__rest",
        F.expr(
            "CASE WHEN __valid THEN substr(__e, length(__scheme) + 4) "
            "ELSE substr(__e, 1, 0) END"
        ),
    )
    # un-lowered host-port: length arithmetic must use THIS slice
    out = out.withColumn(
        "__hpraw",
        F.expr("substring_index(substring_index(__rest, '/', 1), '?', 1)"),
    )
    out = out.withColumn("__hostport", F.expr("lower(__hpraw)"))
    dotseg = rx(_DOTSEG, "spark")
    p1 = f"regexp_replace(substr(__rest, length(__hpraw) + 1), {dotseg}, '/')"
    out = out.withColumn(
        "__path",
        F.expr(
            f"regexp_replace({_strip_tracking(p1, 'spark')}, '[?&]$', '')"
        ),
    )
    # terminator input passes through raw; other malformed input falls
    # back to the fragment-stripped string, matching canonicalize_expr
    # / oracle.py_canonicalize
    canon = F.expr(
        "CASE WHEN __valid THEN concat("
        "__scheme, '://', "
        "CASE WHEN endswith(__hostport, ':443') "
        "     THEN substr(__hostport, 1, length(__hostport) - 4) "
        "     WHEN endswith(__hostport, ':80') "
        "     THEN substr(__hostport, 1, length(__hostport) - 3) "
        "     ELSE __hostport END, "
        "CASE WHEN __path = '' THEN '/' ELSE __path END) "
        f"WHEN {_term_guard(raw_col)} THEN {raw_col} "
        "ELSE __e END"
    )
    host = F.expr("substring_index(__hostport, ':', 1)")
    # Emit through a no-op Generate barrier (plans/barrier.py): a join on
    # url_canon infers isnotnull(url_canon) and PushDownPredicates would
    # substitute the WHOLE staged chain into one Filter — ~16 re-inlined
    # copies of the fragment-strip regex, a >64 KB codegen method, and a
    # silent whole-stage fallback on the frontier's hottest path (observed
    # on frontier_seen_antijoin; janino "Code grows beyond 64 KB"). The
    # barrier pins url_canon/host predicates above ONE evaluation while
    # pass-through predicates (seed_id ranges) still reach the scan.
    # Pre-existing url_canon/host columns are REPLACED (the pre-barrier
    # withColumn contract) — dropped here after the staged projections are
    # built, since the barrier itself appends and would raise on collision.
    if raw_col in ("url_canon", "host"):
        raise ValueError(
            f"with_canonical: raw_col={raw_col!r} collides with an output "
            "column — alias the raw URL column first"
        )
    stale = [c for c in ("url_canon", "host") if c in df.columns]
    if stale:
        out = out.drop(*stale)
    out = with_barrier_columns(out, {"url_canon": canon, "host": host})
    return out.drop(
        "__e", "__valid", "__scheme", "__rest", "__hpraw", "__hostport", "__path"
    )


def sql_seed_table(dialect: str, table: str = "orders") -> str:
    """SELECT producing (seed_id, url_raw, url_canon, host)."""
    raw = synthetic_url_expr(dialect)
    canon = canonicalize_expr("url_raw", dialect)
    host = host_expr("url_canon", dialect)
    return (
        f"SELECT seed_id, url_raw, url_canon, {host} AS host FROM ("
        f"SELECT seed_id, url_raw, {canon} AS url_canon FROM ("
        f"SELECT o_orderkey AS seed_id, {raw} AS url_raw FROM {table}))"
    )


def surt_expr(canon_url: str, dialect: str) -> str:
    """SURT key (Sort-friendly URI Reordering Transform) of a CANONICAL url:
    ``com,example,host[:port])/path?query`` — the Common Crawl / pywb index
    key (cf. cc-index's surt_url column; the reference reads WARCs directly
    and has no index stage).

    Why it matters at scale: lexicographic SURT order co-locates every URL
    of a host (and of a registrable domain's subdomains) in one contiguous
    range, so a crawl index written `repartitionByRange(surt)` gets
    per-host/domain queries answered by partition-range pruning instead of
    a 10^10-row scan, and same-host rows compress ~10x better in parquet.

    Contract (mirrored by oracle.py_surt; pinned three-way in tests):
    - leading ``www.`` is dropped (pywb canon), remaining host labels are
      reversed and comma-joined;
    - a non-default port survives (``:8080``) — canonicalize already
      stripped :80/:443, so distinct origins keep distinct keys;
    - scheme is dropped (http/https collapse to one key, pywb semantics);
    - non-URL input (no scheme match / terminator passthrough) -> '' ;
      NULL propagates (explicit IS NULL branch: DuckDB concat() would
      otherwise SKIP a null piece where Spark nulls the row).
    """
    host = host_expr(canon_url, dialect)
    h2 = f"regexp_replace({host}, {rx('^www[.]', dialect)}, ''{g_flag(dialect)})"
    if dialect == "duckdb":
        rev = f"array_to_string(list_reverse(string_split({h2}, '.')), ',')"
    else:
        rev = f"array_join(reverse(split({h2}, {rx(chr(92) + '.', dialect)})), ',')"
    port = (
        f"regexp_extract({canon_url}, "
        f"'^[a-z][a-z0-9+.-]*://[^/:?#]*(:[0-9]+)', 1)"
    )
    path = f"regexp_extract({canon_url}, '^[a-z][a-z0-9+.-]*://[^/]*(/.*)$', 1)"
    # host is inlined twice (guard + reversal) — a cheap anchored regex;
    # callers that also want the host column stage it themselves.
    return (
        f"CASE WHEN {canon_url} IS NULL THEN NULL "
        f"WHEN {host} = '' THEN '' "
        f"ELSE concat({rev}, {port}, ')', {path}) END"
    )


# ---------------------------------------------------------------------------
# registered domain (public-suffix-lite)
# ---------------------------------------------------------------------------

# Multi-part public suffixes recognized by the stand-in list. The real
# public-suffix list is ~9k entries and updates continuously; at deploy
# time it would be loaded the same way (a literal IN set compiled into the
# expression, or a broadcast dim for the full list). The subset covers the
# common ccTLD second-level registries so the "last 2 vs last 3 labels"
# branch is actually exercised.
MULTI_PART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "co.jp", "ne.jp", "or.jp",
    "com.cn", "net.cn", "org.cn",
    "com.au", "net.au", "org.au",
    "com.br", "co.in", "co.kr", "com.mx", "co.za", "com.tr", "com.ar",
)


def regdomain_expr(host: str, dialect: str) -> str:
    """Registered (pay-level) domain of a host: last two labels, or last
    THREE when the last two form a multi-part public suffix (PSL-lite,
    :data:`MULTI_PART_SUFFIXES`). Hosts with fewer than three labels pass
    through unchanged (they ARE a registrable domain or a bare suffix).

    This is the politeness grain many crawlers use above host level —
    one origin server often spans subdomains (shard1.shop.com,
    shard2.shop.com), and per-HOST budgets would multiply the fetch rate
    against it by the subdomain count. Pure JVM/SQL expression (split +
    negative element_at), dialect-identical. The host is lowercased
    inside the expression (suffix matching is case-blind and a
    'Shard1.Example.CO.UK' straggler must not bucket separately from its
    canonical form); canonical hosts are already lowercase so the
    lower() folds into the same codegen stage."""
    host = f"lower({host})"
    if dialect == "duckdb":
        arr = f"string_split({host}, '.')"
        el = "{a}[{i}]"
        n = f"len({arr})"
    else:
        arr = f"split({host}, {rx(chr(92) + '.', dialect)})"
        el = "element_at({a}, {i})"
        n = f"size({arr})"
    last2 = (
        f"concat({el.format(a=arr, i=-2)}, '.', {el.format(a=arr, i=-1)})"
    )
    last3 = (
        f"concat({el.format(a=arr, i=-3)}, '.', {el.format(a=arr, i=-2)},"
        f" '.', {el.format(a=arr, i=-1)})"
    )
    suffixes = ", ".join(f"'{s}'" for s in MULTI_PART_SUFFIXES)
    return (
        f"CASE WHEN {n} < 3 THEN {host} "
        f"WHEN {last2} IN ({suffixes}) THEN {last3} "
        f"ELSE {last2} END"
    )


def py_regdomain(host: str) -> str:
    """Python mirror of :func:`regdomain_expr`."""
    labels = host.lower().split(".")
    if len(labels) < 3:
        return host
    if ".".join(labels[-2:]) in MULTI_PART_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


# ---------------------------------------------------------------------------
# URL quality heuristics (crawl-hygiene spam scoring)
# ---------------------------------------------------------------------------

URL_SPAM_THRESHOLD = 40


def url_spam_exprs(url: str, dialect: str) -> dict[str, str]:
    """Structural URL spam signals (the cheap pre-fetch hygiene filter
    every crawler runs: calendar/faceted-navigation traps and SEO spam
    show up as deep paths, parameter explosions, and digit soup long
    before content is fetched). All signals are exact integers computed
    with length-difference counting — shuffle-free whole-stage-codegen,
    identical text in both dialects:

    - ``path_depth``: '/' count after the scheme's '//';
    - ``n_params``: query parameters ('?' presence + '&' count);
    - ``n_digits``: digit count in the full URL;
    - ``url_len``: total length;
    - ``spam_score``: 2*path_depth + 5*n_params + n_digits + url_len/10
      (integer division via dialect.idiv). The weights are a documented
      heuristic dial, not a trained model — production would tune them
      per corpus; the structure (exact integer linear score + threshold)
      is the scale contract.
    """
    from ..functions.dialect import idiv
    from ..functions.text_analysis import _sql_count_char

    depth = f"({_sql_count_char(url, '/')} - 2)"  # scheme '//' adds two
    q = f"CASE WHEN position('?' IN {url}) > 0 THEN 1 ELSE 0 END"
    n_params = f"({q} + {_sql_count_char(url, '&')})"
    digits = (
        f"(length({url}) - length(regexp_replace({url}, "
        f"{rx('[0-9]', dialect)}, ''{g_flag(dialect)})))"
    )
    spam = (
        f"(2 * ({depth}) + 5 * ({n_params}) + ({digits})"
        f" + {idiv(f'length({url})', '10', dialect)})"
    )
    return {
        "url_len": f"CAST(length({url}) AS BIGINT)",
        "path_depth": f"CAST({depth} AS BIGINT)",
        "n_params": f"CAST({n_params} AS BIGINT)",
        "n_digits": f"CAST({digits} AS BIGINT)",
        "spam_score": f"CAST({spam} AS BIGINT)",
    }


def py_url_spam(url: str) -> dict[str, int]:
    """Python mirror of :func:`url_spam_exprs` (ASCII digits only, like
    the engines' [0-9] — str.isdigit would also count Unicode digits)."""
    depth = url.count("/") - 2
    n_params = (1 if "?" in url else 0) + url.count("&")
    digits = sum("0" <= c <= "9" for c in url)
    spam = 2 * depth + 5 * n_params + digits + len(url) // 10
    return {
        "url_len": len(url),
        "path_depth": depth,
        "n_params": n_params,
        "n_digits": digits,
        "spam_score": spam,
    }


# ---------------------------------------------------------------------------
# URL-template crawl-trap detection
# ---------------------------------------------------------------------------

TRAP_MIN_URLS = 1000


def url_template_expr(url: str, dialect: str) -> str:
    """Collapse every digit run IN THE PATH/QUERY to '{n}', keeping the
    ``scheme://host`` prefix verbatim — URLs minted by the same
    calendar/pagination/session template on ONE site land on one key, so
    a template whose URL count explodes is a crawl trap (infinite
    calendars, faceted-nav cross products, session-id mirrors). The host
    must NOT be templated: digit-bearing hosts (host1.ex, host2.ex) are
    distinct sites, and merging them would charge independent origins to
    one fake trap. The prefix class is '[^/?#]*' like host_expr —
    canonicalize can emit path-less 'https://t.ex?page=2', and a bare
    '[^/]*' would swallow the query, hiding query-only traps. Two
    anchored extracts + one replace, identical in both dialects."""
    prefix = f"regexp_extract({url}, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1)"
    rest = f"substring({url}, length({prefix}) + 1)"
    return (
        f"concat({prefix}, regexp_replace({rest}, "
        f"{rx('[0-9]+', dialect)}, '{{n}}'{g_flag(dialect)}))"
    )


def py_url_template(url: str) -> str:
    """Python mirror of :func:`url_template_expr`."""
    import re

    m = re.match(r"^[a-z][a-z0-9+.-]*://[^/?#]*", url)
    cut = m.end() if m else 0
    return url[:cut] + re.sub(r"[0-9]+", "{n}", url[cut:])
