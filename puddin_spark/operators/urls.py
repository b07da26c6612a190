"""URL normalization and domain filtering for web-page corpora.

A Common-Crawl-style ingest keyed on `url:string` (input_hint schema)
needs: a canonical form (so near-identical fetches dedup), the host and
registered domain (for per-site stats, skew diagnosis, and blocklists),
and a domain-blocklist gate. All of it is pure JVM expression work —
regexp/concat/lower built-ins inside whole-stage codegen, RE2-safe by
construction (no backreferences, no lookaround, \\z not $) so every
column has a mechanical DuckDB oracle twin.

Canonicalization spec (frozen; the url_canonicalize gate is its oracle):
  1. strip the fragment (#...)
  2. drop tracking query params: utm_*, gclid, fbclid — non-first params
     (&p=...), then a first param with a successor (?p=...& -> ?), then a
     lone first param (?p=...\\z)
  3. dangling '?' or '&' left at the end is removed
  4. lowercase the scheme://authority prefix (path/query case preserved)

Host/domain spec:
  host   = authority of scheme://... minus userinfo@ and :port, lowered
  domain = registered domain under the full public-suffix algorithm
           (publicsuffix.org): the prevailing rule is the exception rule,
           else the longest matching suffix rule (exact entries of any
           label count, plus `*.parent` wildcards), and the registered
           domain is that suffix plus one more label. A host that IS a
           public suffix (or a bare TLD pair) returns itself — the
           degenerate case callers treat as "no registrable domain".
           The embedded PslRules subset covers two- and three-level
           suffixes plus a wildcard/exception pair; `load_psl(path)`
           parses a real publicsuffix.org data file into the same
           structure (the external artifact this container doesn't ship).

Reference scope note: puddin's Pile ingest has no url column (ids are
synthesized); these operators serve the north-star web table.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

_TRACK = r"(utm_[^&#]*|gclid=[^&#]*|fbclid=[^&#]*)"

# (pattern, replacement) — applied in order, identical in both engines
_CANON_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?s)#.*\z", ""),          # 1. fragment
    (r"&" + _TRACK, ""),          # 2a. non-first tracking params
    (r"\?" + _TRACK + r"&", "?"),  # 2b. first param with successor
    (r"\?" + _TRACK + r"\z", ""),  # 2c. lone first param
    (r"[?&]\z", ""),              # 3. dangling separator
)

_AUTH_PREFIX = r"\A[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*"

# two-level public suffixes recognized by the embedded subset (kept as a
# standalone tuple for the mechanical DuckDB oracle and backward compat)
TWO_LEVEL_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au", "edu.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.nz", "co.za",
)


@dataclass(frozen=True)
class PslRules:
    """Public-suffix rule sets (publicsuffix.org semantics).

    exact — suffix entries of any label count ("com.au", "act.edu.au");
    wild  — wildcard PARENTS: "ck" stands for the rule `*.ck` (every
            single label under .ck is itself a public suffix);
    exc   — exception entries ("www.ck" for `!www.ck`): the entry itself
            is the registered domain, overriding any wildcard match.
    The implicit default rule `*` (every bare TLD is a suffix) is always
    in force, as in the spec."""

    exact: frozenset[str]
    wild: frozenset[str]
    exc: frozenset[str]

    def by_labels(self, which: str) -> dict[int, list[str]]:
        vals = getattr(self, which)
        out: dict[int, list[str]] = {}
        for v in vals:
            out.setdefault(v.count(".") + 1, []).append(v)
        return {k: sorted(v) for k, v in sorted(out.items())}

    def suffix_levels(self) -> list[tuple[int, list[str], list[str]]]:
        """(s, exact suffixes, wildcard parents) per suffix label count s,
        longest first: an exact entry of s labels and a wildcard `*.p` with
        a p of s - 1 labels both match an s-label suffix."""
        levels: dict[int, tuple[list[str], list[str]]] = {}
        for s, vals in self.by_labels("exact").items():
            levels.setdefault(s, ([], []))[0].extend(vals)
        for p, vals in self.by_labels("wild").items():
            levels.setdefault(p + 1, ([], []))[1].extend(vals)
        return [(s, *levels[s]) for s in sorted(levels, reverse=True)]


# embedded subset: every TWO_LEVEL entry, a few real three-level entries,
# and the PSL's canonical wildcard/exception pair (*.ck / !www.ck)
DEFAULT_PSL = PslRules(
    exact=frozenset(TWO_LEVEL_SUFFIXES)
    | frozenset({"act.edu.au", "nsw.edu.au", "pref.aichi.jp"}),
    wild=frozenset({"ck"}),
    exc=frozenset({"www.ck"}),
)


def load_psl(path: str) -> PslRules:
    """Parse a publicsuffix.org data file (one rule per line; comments
    `//`; `*.` wildcards; `!` exceptions; the PRIVATE section included —
    filter beforehand if you want ICANN-only) into PslRules. The seam for
    shipping the real ~9k-entry list: url_domain(..., rules=load_psl(p))
    compiles it into the same JVM expression (isin over literals becomes
    a codegen hash-set probe, so the full list stays scan-speed)."""
    exact, wild, exc = set(), set(), set()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            line = line.split()[0].lower().lstrip(".")
            if line.startswith("!"):
                exc.add(line[1:])
            elif line.startswith("*."):
                wild.add(line[2:])
            elif line:
                exact.add(line)
    return PslRules(frozenset(exact), frozenset(wild), frozenset(exc))


def canonical_url(col: Column | str) -> Column:
    """Frozen canonical form of a url (spec in the module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in _CANON_STEPS:
        c = F.regexp_replace(c, pat, repl)
    # lowercase scheme://authority, keep the rest byte-for-byte
    prefix = F.lower(F.regexp_extract(c, f"({_AUTH_PREFIX})", 1))
    rest = F.regexp_replace(c, _AUTH_PREFIX, "")
    return F.when(prefix == "", c).otherwise(F.concat(prefix, rest))


def url_host(col: Column | str) -> Column:
    """Lowercased host: authority minus userinfo@ and :port; '' when the
    value has no scheme://authority shape."""
    c = F.col(col) if isinstance(col, str) else col
    auth = F.regexp_extract(c, r"\A[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", 1)
    no_user = F.regexp_replace(auth, r"\A[^@]*@", "")
    no_port = F.regexp_replace(no_user, r":[0-9]+\z", "")
    return F.lower(no_port)


def url_domain(host: Column | str, rules: PslRules = DEFAULT_PSL) -> Column:
    """Registered domain from a host under the public-suffix algorithm
    (module docstring). Pure codegen projection: each rule set compiles to
    an isin over literals (a hash-set probe in codegen — the full ~9k-entry
    real list via load_psl() stays scan-speed; no join, no Python)."""
    h = F.col(host) if isinstance(host, str) else host
    parts = F.split(h, r"\.")
    n = F.size(parts)

    def lastk(k: int) -> Column:
        return F.array_join(F.slice(parts, n - (k - 1), k), ".")

    # priority: exception > longest matching suffix rule (wildcard *.p has
    # len(p)+1 labels) > the implicit default rule `*` (bare TLDs)
    branches: list[tuple[Column, Column]] = []
    for c, vals in sorted(rules.by_labels("exc").items(), reverse=True):
        # the exception entry itself is the registered domain
        branches.append(((n >= c) & lastk(c).isin(*vals), lastk(c)))
    for s, exact, wildparents in rules.suffix_levels():
        cond = F.lit(False)
        if exact:
            cond = cond | lastk(s).isin(*exact)
        if wildparents:
            cond = cond | lastk(s - 1).isin(*wildparents)
        branches.append(((n >= s + 1) & cond, lastk(s + 1)))
        # host IS the (possibly wildcard-derived) suffix: degenerate, no
        # registrable domain — return the host itself
        branches.append(((n == s) & cond, h))
    out = None
    for cond, val in branches:
        out = F.when(cond, val) if out is None else out.when(cond, val)
    default = F.when(n <= 2, h).otherwise(F.array_join(F.slice(parts, n - 1, 2), "."))
    return default if out is None else out.otherwise(default)


def filter_by_domain_blocklist(
    pages: DataFrame, blocked_domains: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop rows whose registered domain is blocklisted.

    The equi-anti-join on `url_domain` (not a LIKE scan) keeps the join
    broadcastable and covers every subdomain of a blocked domain in one
    key comparison — the 10^12-row side streams, the blocklist broadcasts.
    `blocked_domains` must have a `domain` column of registered domains.
    """
    d = pages.withColumn("_dom", url_domain(url_host(url_col)))
    b = F.broadcast(blocked_domains.select(F.lower("domain").alias("_dom")))
    return d.join(b, "_dom", "left_anti").drop("_dom")


def duckdb_canonical_sql(expr: str) -> str:
    """DuckDB twin of canonical_url over `expr` (oracle generation)."""
    s = expr
    for pat, repl in _CANON_STEPS:
        s = f"regexp_replace({s}, '{pat}', '{repl}', 'g')"
    prefix = f"lower(regexp_extract({s}, '({_AUTH_PREFIX})', 1))"
    rest = f"regexp_replace({s}, '{_AUTH_PREFIX}', '', 'g')"
    return (
        f"case when {prefix} = '' then {s} else {prefix} || {rest} end"
    )


def duckdb_host_sql(expr: str) -> str:
    """DuckDB twin of url_host over `expr`."""
    auth = (
        "regexp_extract("
        f"{expr}, '\\A[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)', 1)"
    )
    no_user = f"regexp_replace({auth}, '\\A[^@]*@', '', 'g')"
    no_port = f"regexp_replace({no_user}, ':[0-9]+\\z', '', 'g')"
    return f"lower({no_port})"


def duckdb_domain_sql(host_expr: str, rules: PslRules = DEFAULT_PSL) -> str:
    """DuckDB twin of url_domain over an already-computed host expr —
    generated mechanically from the SAME PslRules, branch for branch."""
    parts = f"string_split({host_expr}, '.')"
    n = f"len({parts})"

    def lastk(k: int) -> str:
        return f"array_to_string(list_slice({parts}, -{k}, -1), '.')"

    def inlist(vals: list[str]) -> str:
        return ", ".join(f"'{v}'" for v in vals)

    whens: list[str] = []
    for c, vals in sorted(rules.by_labels("exc").items(), reverse=True):
        whens.append(
            f"when {n} >= {c} and {lastk(c)} in ({inlist(vals)}) then {lastk(c)}"
        )
    for s, exact, wildparents in rules.suffix_levels():
        conds = []
        if exact:
            conds.append(f"{lastk(s)} in ({inlist(exact)})")
        if wildparents:
            conds.append(f"{lastk(s - 1)} in ({inlist(wildparents)})")
        cond = " or ".join(conds)
        whens.append(f"when {n} >= {s + 1} and ({cond}) then {lastk(s + 1)}")
        whens.append(f"when {n} = {s} and ({cond}) then {host_expr}")
    whens.append(f"when {n} <= 2 then {host_expr}")
    return f"case {' '.join(whens)} else {lastk(2)} end"


def cap_per_domain(
    pages: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    order_by: list[str] | None = None,
) -> DataFrame:
    """Domain balancing: keep at most `max_per_domain` documents per
    registered domain — the over-represented-host downsampling step of
    C4/RefinedWeb-style web pipelines (a handful of boilerplate-heavy
    hosts otherwise dominate the token budget). Deterministic: rows rank
    by `order_by` (put a quality score first to keep the BEST docs; id
    last as tiebreak) inside a window partitioned by url_domain.

    Scale shape: one shuffle on the registered domain (the skewed-host
    problem is exactly a skewed-key window — AQE skew handling applies);
    Spark plans rank<=k windows as WindowGroupLimit, pushing the cap into
    a partial top-k BEFORE the shuffle, so the exchange carries at most
    max_per_domain rows per domain per input partition, not the full
    host crawl."""
    from pyspark.sql import Window

    order = [F.col(c) for c in (order_by or [])] or [F.col(url_col)]
    w = Window.partitionBy(url_domain(url_host(url_col))).orderBy(*order)
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_domain)
        .drop("_rn")
    )
