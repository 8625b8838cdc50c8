"""P7-P14 + X3 — the href validation pipeline as column expressions.

Reproduces ``isValidURL`` (reference crawler.go:403-446) over a batch
of canonicalized candidates:

  P9  scheme ∈ {http, https}
  P8  same-host (absolute URLs only — but post-resolution everything
      surviving P9 is absolute)
  P7  ignore patterns: substring-of-*path* (ContainsAny(parsedURL.Path),
      crawler.go:436-439)
  P11 robots.txt: longest-rule-wins / Allow-on-tie Google semantics
      via a broadcast rules table + window, not a per-row matcher

The robots matcher is relational on purpose: rules explode into
(host, is_allow, prefix) rows once per wave (a few dozen rows), the
candidate set joins by host, and a max_by over (prefix_len, is_allow)
picks the winning rule — no UDF, no shuffle beyond the broadcast.
A host whose robots fetch hard-failed (429/5xx — reference
crawler.go:497-504 aborts the crawl) carries ``hard_fail`` and
disallows everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.urlnorm import VALID_SCHEMES
from ..session import local_df

ROBOTS_RULES_COLS = (
    "host string, is_allow boolean, prefix string, prefix_len int, hard_fail boolean, regex string"
)


def parse_robots_groups(txt: str) -> list[tuple[list[str], list[tuple[bool, str]]]]:
    """robots.txt → [(agents, [(is_allow, pattern), ...]), ...].
    Consecutive ``User-agent`` lines share one group (Google spec)."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    in_agents = False
    for line in (txt or "").splitlines():
        line = line.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents:
                if agents:
                    groups.append((agents, rules))
                agents, rules = [], []
                in_agents = True
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agents = False
            if val:
                rules.append((key == "allow", val))
    if agents:
        groups.append((agents, rules))
    return groups


def select_robots_group(
    groups: list[tuple[list[str], list[tuple[bool, str]]]], user_agent: str
) -> list[tuple[bool, str]]:
    """Google group selection (the grobotstxt behavior behind reference
    crawler.go:441-446): the most specific matching user-agent wins —
    a group agent matches when it is a case-insensitive prefix of the
    crawler's product token; ``*`` is the fallback."""
    ua = user_agent.split("/", 1)[0].strip().lower()
    best: tuple[int, list[tuple[bool, str]]] | None = None
    star: list[tuple[bool, str]] | None = None
    for agents, rules in groups:
        for agent in agents:
            if agent == "*":
                if star is None:
                    star = rules
            elif ua.startswith(agent):
                if best is None or len(agent) > best[0]:
                    best = (len(agent), rules)
    if best is not None:
        return best[1]
    return star if star is not None else []


def robots_pattern_regex(pattern: str) -> str | None:
    """Translate a robots rule pattern with ``*``/``$`` wildcards into
    an anchored Java/RE2-safe regex, or None when a plain prefix match
    suffices (the codegen-friendly fast path)."""
    if "*" not in pattern and not pattern.endswith("$"):
        return None
    import re as _re

    body, anchor = (pattern[:-1], "$") if pattern.endswith("$") else (pattern, "")
    return "^" + ".*".join(_re.escape(part) for part in body.split("*")) + (anchor or ".*")


def parse_robots_rules(
    spark: SparkSession, robots: list[tuple[str, str, int]], user_agent: str = "webcrawlerGo"
) -> DataFrame:
    """(host, robots_txt, status) → rules rows
    (host, is_allow, prefix, prefix_len, hard_fail, regex) for the
    group selected by ``user_agent``. Google semantics per grobotstxt
    (reference crawler.go:441-446): named UA groups, ``*``/``$``
    wildcards, longest-pattern-wins. Driver-side parse: robots bodies
    are per-host config, not data. ``regex`` is NULL for plain-prefix
    rules (they stay on the startswith codegen path)."""
    rows = []
    for host, txt, status in robots:
        if status == 429 or status >= 500:
            rows.append((host, False, "", 0, True, None))
            continue
        rules = select_robots_group(parse_robots_groups(txt), user_agent)
        for is_allow, pattern in rules:
            rows.append(
                (host, is_allow, pattern, len(pattern), False, robots_pattern_regex(pattern))
            )
        if not rules:
            rows.append((host, True, "", 0, False, None))
    return local_df(spark, rows or [("__none__", True, "", 0, False, None)], ROBOTS_RULES_COLS)


def robots_allowed(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """Add ``robots_ok`` to candidates(..., host, path): longest
    matching rule wins, Allow wins ties, default allow. Wildcard rules
    (regex non-NULL) match via rlike; plain prefixes via startswith.
    A path-less absolute URL matches as '/' (grobotstxt behavior)."""
    path = F.when(F.col("path") == "", F.lit("/")).otherwise(F.col("path"))
    matched = candidates.join(F.broadcast(rules), "host", "left").withColumn(
        "_match",
        F.when(F.col("hard_fail"), F.lit(True)).otherwise(
            F.col("prefix").isNotNull()
            & (F.col("prefix_len") > 0)
            & F.when(
                F.col("regex").isNotNull(),
                F.expr("rlike(CASE WHEN path = '' THEN '/' ELSE path END, regex)"),
            ).otherwise(path.startswith(F.col("prefix")))
        ),
    )
    gcols = [c for c in candidates.columns]
    # max_by over (matched, prefix_len, is_allow): unmatched rows sort last
    verdict = (
        matched.groupBy(*gcols)
        .agg(
            F.max(
                F.struct(
                    F.col("_match").alias("m"),
                    F.coalesce(F.col("prefix_len"), F.lit(-1)).alias("l"),
                    F.coalesce(F.col("is_allow"), F.lit(True)).alias("a"),
                    F.coalesce(F.col("hard_fail"), F.lit(False)).alias("hf"),
                )
            ).alias("_best")
        )
        .withColumn(
            "robots_ok",
            F.when(F.col("_best.hf") & F.col("_best.m"), F.lit(False))
            .when(F.col("_best.m"), F.col("_best.a"))
            .otherwise(F.lit(True)),
        )
        .drop("_best")
    )
    return verdict


def robots_ok_expr(rules_rows: list[tuple[str, bool, str, int, bool]], host_col: str = "host", path_col: str = "path"):
    """Zero-shuffle robots verdict as a pure column expression.

    robots.txt bodies are crawl *config* (one per host, known on the
    driver), so the longest-rule-wins decision compiles into a CASE
    chain evaluated inside whole-stage codegen — no join, no shuffle,
    no UDF. Use ``robots_allowed`` (relational) only if rules ever
    become data-scale.

    ``rules_rows``: (host, is_allow, prefix, prefix_len, hard_fail,
    regex) as produced by ``parse_robots_rules(...).collect()``.
    """
    by_host: dict[str, list[tuple[bool, str, int, bool, str | None]]] = {}
    for host, is_allow, prefix, plen, hard, regex in rules_rows:
        by_host.setdefault(host, []).append((is_allow, prefix, plen, hard, regex))
    # a path-less absolute URL ('https://h') matches rules as '/'
    # (grobotstxt resolves the empty path to '/')
    path = F.when(F.col(path_col) == "", F.lit("/")).otherwise(F.col(path_col))
    expr = F.lit(True)  # default allow (unknown host / no rules)
    for host, rules in by_host.items():
        if any(hard for _, _, _, hard, _ in rules):
            verdict = F.lit(False)
        else:
            verdict = F.lit(True)
            # evaluate shortest→longest so the longest match wins;
            # Allow beats Disallow at equal length (sort key below)
            for is_allow, prefix, plen, _, regex in sorted(rules, key=lambda r: (r[2], r[0])):
                if plen > 0:
                    match = path.rlike(regex) if regex is not None else path.startswith(prefix)
                    verdict = F.when(match, F.lit(is_allow)).otherwise(verdict)
        expr = F.when(F.col(host_col) == host, verdict).otherwise(expr)
    return expr


def validity_flag(df: DataFrame, base_host: str | None, ignore_patterns: list[str]) -> DataFrame:
    """Add ``pre_ok`` (P8+P9+P7) to canonicalized candidates with
    (scheme, host, path) columns. Robots (P11) is applied separately
    (needs the rules join). ``base_host=None`` disables the same-host
    rule (multi-host frontier mode)."""
    scheme_ok = F.col("scheme").isin(*VALID_SCHEMES)
    if base_host is None:
        host_ok = F.lit(True)
    else:
        host_ok = (F.col("host") == "") | (F.col("host") == F.lit(base_host))
    ignore_hit = F.lit(False)
    for pat in ignore_patterns:
        if pat:  # ContainsAny skips empty patterns (internal/utils.go)
            ignore_hit = ignore_hit | F.col("path").contains(pat)
    return df.withColumn("pre_ok", scheme_ok & host_ok & ~ignore_hit)


def marked_flag(df: DataFrame, marked_paths: list[str], url_col: str = "href") -> DataFrame:
    """P12 — href contains any marked path substring
    (reference crawler.go:452-454)."""
    hit = F.lit(False)
    for m in marked_paths:
        if m:  # ContainsAny skips empty patterns (internal/utils.go)
            hit = hit | F.col(url_col).contains(m)
    return df.withColumn("marked", hit)
