"""X2 canonicalizer: the vectorized pandas implementation must agree
with the golden's per-string normalization on the full href taxonomy
(reference crawler.go:382-391 + NOTES.md:1-48)."""

import pandas as pd

from webcrawlergo_spark.functions.urlnorm import _normalize_pd
from webcrawlergo_spark.golden import normalize_href

BASE = "https://host0.test"

TAXONOMY = [
    "/p1",
    "p2",
    "/p3/",
    "p4/",
    f"{BASE}/p5",
    f"{BASE}/p6/",
    "https://other.test/x",
    "mailto:a@b.c",
    "tel:+123",
    "javascript:void(0)",
    "#frag",
    "data:text/plain;x",
    "file:///etc/passwd",
    "",
    "   ",
    "  /spaced/path  ",
    "/p7//",
    "/files/doc.pdf",
    "/private/p8",
    "/P9",
    "HTTPS://HOST0.TEST/p10",  # case-variant host (case-sensitive dedup)
]


def test_vectorized_normalize_matches_golden():
    out = _normalize_pd(pd.Series(TAXONOMY), BASE)
    for raw, got in zip(TAXONOMY, out["href"]):
        want = normalize_href(raw, BASE)
        got = None if pd.isna(got) else got
        assert got == want, f"{raw!r}: engine {got!r} != golden {want!r}"


def test_normalize_parse_fields():
    out = _normalize_pd(pd.Series(["/p1", "mailto:a@b.c", "https://other.test:8080/a/b?q=1"]), BASE)
    assert out.loc[0, "href"] == f"{BASE}/p1"
    assert out.loc[0, "scheme"] == "https"
    assert out.loc[0, "host"] == "host0.test"
    assert out.loc[0, "path"] == "/p1"
    assert out.loc[1, "scheme"] == "mailto"
    assert out.loc[2, "host"] == "other.test"
    assert out.loc[2, "path"] == "/a/b"


def test_expr_and_pandas_paths_agree_on_adversarial_corpus(spark):
    """The engine canonicalizes with JVM codegen `normalize_expr`; the
    pandas UDF is its reference twin. The taxonomy pins each against
    the golden, but their MUTUAL equality had only those 21 strings.
    This drives both paths over ~2,000 seeded adversarial hrefs
    (scheme soup, case variants, embedded spaces, %-escapes, //,
    fragments, bare garbage, whitespace padding) in one job and
    asserts field-exact agreement, NULLs included."""
    import random

    from pyspark.sql import functions as F

    from webcrawlergo_spark.functions.urlnorm import make_normalize_udf, normalize_expr

    rng = random.Random(99)
    schemes = ["http", "HTTPS", "ftp", "MailTo", "javascript", "file", "data",
               "tel", "x+y-z", "9bad", ""]
    hosts = ["Host0.Test", "other.test:8080", "h", "", "xn--caf-dma.example"]
    paths = ["/a/b", "//x", "/a b", "/%20z", "/p/", "p", "?q=1&a=2", "#frag",
             "/..", ".", "/tilde~", "/ünïcode", ""]
    junk = list("/:#?%. ~") + ["://", "  ", "a"]

    def one():
        style = rng.randrange(4)
        if style == 0:
            return (rng.choice(schemes) + "://" + rng.choice(hosts)
                    + rng.choice(paths) + rng.choice(paths))
        if style == 1:
            return rng.choice(schemes) + ":" + rng.choice(paths)
        if style == 2:
            return "".join(rng.choice(junk) for _ in range(rng.randrange(12)))
        return " " * rng.randrange(3) + rng.choice(paths) + " " * rng.randrange(3)

    # literals that specifically stress the r6 locate/substr spelling
    # (first-'://' vs anchored-regex equivalence, empty authority,
    # non-ASCII scheme chars, port-only authority)
    corpus = [one() for _ in range(2000)] + [
        "ab:cd://x", "http:///p", "a//b://x", "://x", "x://",
        "é://x", "http://:8080/p", "x://h:", "h://a?#", "h://a#?",
        "h://a#b?c", "h://a?b#c", "A+b-c.9://Host/P?q#f",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "id long, raw string"
    )
    udf = make_normalize_udf(BASE)
    both = df.select(
        "id", "raw",
        normalize_expr(BASE, F.col("raw")).alias("e"),
        udf(F.col("raw")).alias("p"),
    ).collect()
    for r in both:
        assert r["e"] == r["p"], (r["raw"], r["e"], r["p"])


def test_host_expr_matches_normalize_host(spark):
    """``host_expr`` re-derives the host from an already-normalized
    href (so the wave loop can shuffle hrefs WITHOUT a host column
    and reattach it after the dedup groupBy — guide §2.3). It must
    equal the ``host`` field normalize_expr itself emits, for every
    normalized href the adversarial corpus produces."""
    import random

    from pyspark.sql import functions as F

    from webcrawlergo_spark.functions.urlnorm import host_expr, normalize_expr

    rng = random.Random(99)
    pieces = list("/:#?%. ~abh") + ["://", "http", "x.y"]
    raws = [
        "".join(rng.choice(pieces) for _ in range(rng.randrange(1, 10)))
        for _ in range(500)
    ] + [
        "/p", "p", "https://other.test:8080/a?q", "mailto:a@b", "#f",
        "ab:cd://x", "http:///p", "://x", "h://a#b?c", "HTTPS://H.T/p",
    ]
    df = spark.createDataFrame([(s,) for s in raws], "raw string")
    rows = (
        df.select(normalize_expr(BASE, F.col("raw")).alias("n"))
        .select(F.col("n.href").alias("href"), F.col("n.host").alias("host"))
        .filter(F.col("href").isNotNull())
        .select("href", "host", host_expr(F.col("href")).alias("re_host"))
        .collect()
    )
    assert rows
    for r in rows:
        assert r["re_host"] == r["host"], (r["href"], r["re_host"], r["host"])
