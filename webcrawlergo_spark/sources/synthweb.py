"""Deterministic synthetic web generator (FIXTURES.md §1/§5).

Generates the crawl universe for parity tests and benchmarks: pages
as interleaved text+media span documents whose text spans embed
``<a href="...">`` tokens covering the reference's href taxonomy
(reference NOTES.md:1-48): absolute same-host, absolute foreign-host,
relative with/without leading ``/``, trailing ``/``, empty, ``#frag``,
``mailto:``/``tel:``/``javascript:``/``data:``/``file:``, ignore-
pattern paths (.pdf), robots-disallowed paths, duplicate hrefs, and
case-variant duplicates (case-SENSITIVE dedup per reference
queue/queue.go:28).

Everything is a pure function of (seed, n_pages) — python's built-in
hash is salted per process, so a tiny xorshift mixer supplies the
pseudo-randomness. No wall clock, no network, no external data.

Two materializations:
- ``generate_web`` → plain dicts (consumed by the pure-Python golden
  oracle AND turned into DataFrames for the engine — one source of
  truth).
- ``scale_web_df`` → a *distributed* generator via ``spark.range`` +
  column expressions for benchmark-scale frontiers (no driver-side
  list of 10^6 pages).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import DOCS

BASE_HOST = "host0.test"
BASE_URL = f"https://{BASE_HOST}"
FOREIGN_URL = "https://host9.test/offsite"
IGNORE_PATTERNS = [".pdf"]
MARKED_PATHS = ["/p3", "/p7"]
ROBOTS_TXT = "User-agent: *\nDisallow: /private\nAllow: /private/open\n"


def _mix(seed: int, *vals: int) -> int:
    """Deterministic 64-bit xorshift-style mixer."""
    h = (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    for v in vals:
        h ^= (v + 0x9E3779B97F4A7C15 + ((h << 6) & 0xFFFFFFFFFFFFFFFF) + (h >> 2)) & 0xFFFFFFFFFFFFFFFF
        h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 27
    return h


@dataclass
class SynthWeb:
    """The generated universe: url → page document + fetch behavior."""

    n_pages: int
    seed: int
    pages: dict[str, dict] = field(default_factory=dict)  # url → {doc_id, spans, status, fail_times}
    robots_txt: str = ROBOTS_TXT
    base_url: str = BASE_URL
    marked_paths: list[str] = field(default_factory=lambda: list(MARKED_PATHS))
    ignore_patterns: list[str] = field(default_factory=lambda: list(IGNORE_PATTERNS))

    def fetch(self, url: str) -> tuple[int, dict | None]:
        """Simulated GET: (status, page|None). Unknown URL → 404."""
        page = self.pages.get(url)
        if page is None:
            return 404, None
        return page["status"], page


def _hrefs_for_page(seed: int, i: int, n_pages: int) -> list[str]:
    """The ordered href list embedded in page i's text spans."""
    hrefs: list[str] = []
    # 4 graph links (BFS fan-out), deterministic targets, mixed syntax
    for k in range(4):
        j = _mix(seed, i, k) % n_pages
        style = _mix(seed, i, k, 7) % 5
        if style == 0:
            hrefs.append(f"/p{j}")                      # relative, leading /
        elif style == 1:
            hrefs.append(f"p{j}")                       # relative, no leading /
        elif style == 2:
            hrefs.append(f"/p{j}/")                     # trailing slash (trim)
        elif style == 3:
            hrefs.append(f"{BASE_URL}/p{j}")            # absolute same-host
        else:
            hrefs.append(f"{BASE_URL}/p{j}/")           # absolute + trailing /
    # taxonomy noise, present on a deterministic subset of pages
    m = _mix(seed, i, 99)
    if m % 3 == 0:
        hrefs.append(FOREIGN_URL)                        # foreign host → dropped
    if m % 4 == 0:
        hrefs.append("mailto:a@b.c")                     # prefix blacklist
    if m % 5 == 0:
        hrefs.append("#frag")
    if m % 6 == 0:
        hrefs.append("javascript:void(0)")
    if m % 7 == 0:
        hrefs.append(f"/files/doc{i}.pdf")               # ignore pattern
    if m % 8 == 0:
        hrefs.append(f"/private/p{i}")                   # robots-disallowed
    if m % 9 == 0:
        hrefs.append("/private/open/ok")                 # robots Allow override
    if m % 10 == 0:
        hrefs.append(f"/P{_mix(seed, i, 3) % n_pages}")  # case-variant (404s)
    if m % 11 == 0:
        hrefs.append(f"/missing{i}")                     # dangling → 404 dead-mark
    if m % 2 == 0 and hrefs:
        hrefs.append(hrefs[0])                           # duplicate href (dedup)
    hrefs.append("  ")                                   # whitespace-only → empty after trim
    return hrefs


def _spans_for_page(seed: int, i: int, hrefs: list[str]) -> list[dict]:
    """3-12 interleaved spans; hrefs distributed over the text spans
    in order (document order = ascending offset)."""
    n_spans = 3 + _mix(seed, i, 1) % 10
    spans: list[dict] = []
    text_span_idx = sorted(k for k in range(n_spans) if _mix(seed, i, k, 2) % 3 != 0)
    if not text_span_idx:
        text_span_idx = [0]
    # contiguous chunks so global href order == document order
    per: dict[int, list[str]] = {k: [] for k in text_span_idx}
    chunk = max(1, -(-len(hrefs) // len(text_span_idx)))
    for n, href in enumerate(hrefs):
        k = text_span_idx[min(n // chunk, len(text_span_idx) - 1)]
        per[k].append(href)
    for k in range(n_spans):
        if k in per:
            words = [f"w{_mix(seed, i, k, n) % 1000}" for n in range(3)]
            body = " ".join(words)
            for href in per[k]:
                body += f' <a href="{href}"> t{_mix(seed, i, k) % 100}'
            spans.append({"kind": "text", "text": body, "media_ref": "", "offset": k})
        else:
            spans.append(
                {"kind": "media", "text": "", "media_ref": f"img://p{i}/s{k}", "offset": k}
            )
    return spans


def generate_web(n_pages: int = 40, seed: int = 42) -> SynthWeb:
    web = SynthWeb(n_pages=n_pages, seed=seed)
    # root page at the bare base URL — the crawl seed resolves here
    root_hrefs = _hrefs_for_page(seed, n_pages, n_pages)
    web.pages[BASE_URL] = {
        "doc_id": "docroot",
        "spans": _spans_for_page(seed, n_pages, root_hrefs),
        "status": 200,
        "fail_times": 0,
    }
    for i in range(n_pages):
        url = f"{BASE_URL}/p{i}"
        hrefs = _hrefs_for_page(seed, i, n_pages)
        m = _mix(seed, i, 55)
        if i != 0 and m % 17 == 0:
            status, fail_times = 200, 1          # transient: fails once, then OK
        elif i != 0 and m % 23 == 0:
            status, fail_times = 200, 99         # permanent transport failure
        elif i != 0 and m % 13 == 0:
            status, fail_times = 500, 0          # non-200, non-404: skipped
        else:
            status, fail_times = 200, 0
        web.pages[url] = {
            "doc_id": f"doc{i:08d}",
            "spans": _spans_for_page(seed, i, hrefs),
            "status": status,
            "fail_times": fail_times,
        }
    return web


def web_docs_df(spark: SparkSession, web: SynthWeb) -> DataFrame:
    rows = [
        (p["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p["spans"]])
        for p in web.pages.values()
    ]
    return spark.createDataFrame(rows, DOCS)


def web_index_df(spark: SparkSession, web: SynthWeb) -> DataFrame:
    """url → (doc_id, status, fail_times): the fetch-sim lookup table."""
    rows = [
        (url, p["doc_id"], p["status"], p["fail_times"]) for url, p in web.pages.items()
    ]
    return spark.createDataFrame(
        rows, "url string, doc_id string, status int, fail_times int"
    )


def scale_web_df(spark: SparkSession, n_pages: int, links_per_page: int = 8,
                 n_hosts: int = 64, skew_host_share: float = 0.25) -> DataFrame:
    """Benchmark-scale synthetic frontier graph, generated distributedly.

    Columns (url, host, doc_id, links array<string>). Host assignment
    is deliberately skewed: ``skew_host_share`` of all pages land on
    host0 (the mega-host of the north rule) so the politeness/skew
    handling actually gets exercised. Link targets are xxhash64-
    derived — all generation happens JVM-side via spark.range; the
    driver never materializes the page list.
    """
    pages = spark.range(n_pages).withColumnRenamed("id", "page_id")

    def host_of(page_col):
        """Host assignment — shared by page placement AND link targets
        so every generated link resolves to a real page URL."""
        return F.when(
            F.pmod(F.xxhash64(page_col, F.lit(1)), 100) < int(skew_host_share * 100), F.lit(0)
        ).otherwise(F.pmod(F.xxhash64(page_col, F.lit(2)), n_hosts - 1) + 1)

    host_id = host_of(F.col("page_id"))

    def link_to(k):
        target = F.pmod(F.xxhash64(F.col("page_id"), k, F.lit(4)), n_pages)
        return F.concat(
            F.lit("https://host"), host_of(target).cast("string"),
            F.lit(".bench/p"), target.cast("string"),
        )

    links = F.transform(F.sequence(F.lit(0), F.lit(links_per_page - 1)), link_to)
    return pages.select(
        F.col("page_id"),
        host_id.cast("int").alias("host_id"),
        F.concat(F.lit("https://host"), host_id.cast("string"), F.lit(".bench/p"),
                 F.col("page_id").cast("string")).alias("url"),
        F.concat(F.lit("host"), host_id.cast("string"), F.lit(".bench")).alias("host"),
        F.concat(F.lit("doc"), F.col("page_id").cast("string")).alias("doc_id"),
        links.alias("links"),
    )
