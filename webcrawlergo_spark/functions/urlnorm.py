"""URL canonicalizer (X2).

Reproduces the reference's href handling exactly (F1+F2+F3,
reference crawler.go:382-391,419-437 + internal/utils.go:26-34):
trim space, trim ONE trailing slash, drop empty, resolve relative
(unless prefix-blacklisted) against the base URL, split into
scheme/host/path.

The engine runs ``normalize_expr`` (JVM codegen); ``_normalize_pd``
and its UDF are the pandas reference twin the tests check it against.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, types as T

INVALID_PREFIXES = ("file:", "mailto:", "tel:", "javascript:", "#", "data:")
VALID_SCHEMES = ("http", "https")

# scheme "://" non-empty authority — Go's IsAbsoluteURL (scheme and host
# both non-empty after url.Parse), internal/utils.go:26-29
_ABS_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]"
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#:]+)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"

NORM_SCHEMA = T.StructType(
    [
        T.StructField("href", T.StringType()),    # resolved, trimmed; null ⇒ dropped (empty)
        T.StructField("scheme", T.StringType()),  # '' when unparseable/relative-blacklisted
        T.StructField("host", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)


def _normalize_pd(raw: pd.Series, base_url: str) -> pd.DataFrame:
    """Pandas reference twin of ``normalize_expr`` (tests only)."""
    s = raw.fillna("").str.strip()
    s = s.str.replace(r"/$", "", regex=True)  # TrimSuffix: at most one match at $
    empty = s == ""
    is_abs = s.str.match(_ABS_RE)
    blacklisted = s.str.startswith(INVALID_PREFIXES)
    needs_resolve = ~is_abs & ~blacklisted & ~empty
    no_slash = needs_resolve & ~s.str.startswith("/")
    s = s.where(~no_slash, "/" + s)
    s = s.where(~needs_resolve, base_url + s)
    scheme = s.str.extract(_SCHEME_RE, expand=False).str.lower()
    # relative-style leftovers (mailto:, #frag …): Go url.Parse scheme
    scheme_generic = s.str.extract(r"^([A-Za-z][A-Za-z0-9+.\-]*):", expand=False).str.lower()
    scheme = scheme.fillna(scheme_generic).fillna("")
    host = s.str.extract(_HOST_RE, expand=False).fillna("")
    path = s.str.extract(_PATH_RE, expand=False).fillna("")
    out = pd.DataFrame({"href": s, "scheme": scheme, "host": host, "path": path})
    out.loc[empty, "href"] = None
    return out


def make_normalize_udf(base_url: str):
    """``_normalize_pd`` as an Arrow-batched pandas UDF binding the
    base URL; the reference twin, not used by the engine."""

    @F.pandas_udf(NORM_SCHEMA)
    def normalize(raw: pd.Series) -> pd.DataFrame:
        return _normalize_pd(raw, base_url)

    return normalize


def host_expr(s):
    """Host of an already-normalized href — the very expression the
    ``host`` field of ``normalize_expr`` is built from. Lets consumers
    re-derive the host from a deduplicated href set instead of
    shuffling the host string alongside every candidate row (guide
    §2.3). NOTE (r6 negative result, kept for the record): a
    locate/substr/translate re-spelling of the whole canonicalizer
    measured ~3x SLOWER than these short anchored regexes at 10M rows
    — the Java regex engine beats a deep when/substr tree, whose size
    defeats codegen common-subexpression elimination. The regex
    spelling stays."""
    return F.regexp_extract(s, _HOST_RE, 1)


def normalize_expr(base_url: str, raw):
    """The engine's canonicalizer: JVM column expressions, zero Python
    in the stage. Tests assert equality with the pandas reference twin
    ``_normalize_pd`` over the href taxonomy and an adversarial corpus.
    """
    s = F.trim(raw)
    s = F.regexp_replace(s, r"/$", "")  # TrimSuffix: one trailing slash
    is_empty = s == ""
    is_abs = s.rlike(_ABS_RE)
    blacklisted = F.lit(False)
    for p in INVALID_PREFIXES:
        blacklisted = blacklisted | s.startswith(p)
    needs_resolve = ~is_abs & ~blacklisted & ~is_empty
    resolved = F.concat(
        F.lit(base_url), F.when(s.startswith("/"), F.lit("")).otherwise(F.lit("/")), s
    )
    s = F.when(needs_resolve, resolved).otherwise(s)
    scheme = F.lower(F.regexp_extract(s, _SCHEME_RE, 1))
    scheme_generic = F.lower(F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1))
    scheme = F.when(scheme == "", scheme_generic).otherwise(scheme)
    host = host_expr(s)
    path = F.regexp_extract(s, _PATH_RE, 1)
    return F.struct(
        F.when(~is_empty, s).alias("href"),
        scheme.alias("scheme"),
        host.alias("host"),
        path.alias("path"),
    )

