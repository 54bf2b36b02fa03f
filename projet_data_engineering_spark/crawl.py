"""Acquisition boundary (SURVEY.md §2.1 S9 + §2.9 ST3), Spark-first.

The reference acquires data with a Selenium crawl loop
(``scraper/main.py:84-136``) and a service wait/retry loop
(``scraper/main.py:48-65``). Neither HTTP nor a browser exists in this
container, so — like the multimodal codec-library seam — the NETWORK call is
a pluggable function and everything Spark-side is real and tested:

- ``crawl_frontier``: distributed BFS over a link graph. The frontier is a
  DataFrame; each round fetches the frontier via an Arrow-batched
  ``mapInPandas`` (thousands of concurrent fetch tasks on a cluster — the
  reference's sequential per-page loop is the anti-pattern at scale),
  extracts out-links, anti-joins the visited set to form the next frontier,
  and localCheckpoints so lineage stays flat across depths. Politeness at
  scale = ``repartition`` the frontier by host so one task owns one host's
  queue.

- ``with_retry``: bounded exponential-backoff retry for flaky boundary
  actions (the reference's Mongo wait loop). Deterministic (no jitter —
  reproducibility beats thundering-herd here; add jitter at real scale).
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from projet_data_engineering_spark.registry import query

FETCH_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("content", StringType(), True),
        StructField("links", ArrayType(StringType()), True),
    ]
)


def default_fetch(urls) -> tuple[list[str | None], list[list[str]]]:
    """The network boundary. This container has no network route — a real
    deployment passes ``fetch_fn`` explicitly (``urllib_fetch`` below is
    the shipped stdlib implementation; requests/playwright slot in the
    same way). Raises rather than fake-succeeding, so an unconfigured
    crawl fails loudly instead of timing out executor-side."""
    raise NotImplementedError(
        "no network in this environment; pass fetch_fn to crawl_frontier "
        "(e.g. crawl.urllib_fetch)"
    )


_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):")


def url_scheme(url: str) -> str:
    """Lowercased scheme of a URL ('' when absent)."""
    m = _SCHEME_RE.match(url)
    return m.group(1).lower() if m else ""


def url_domain(url: str) -> str:
    """Authority (host[:port]) of a URL — the politeness grouping key."""
    from urllib.parse import urlsplit

    try:
        return urlsplit(url).netloc.lower()
    except ValueError:
        return ""


def urllib_fetch(
    urls,
    timeout: float = 10.0,
    allowed_schemes: tuple[str, ...] = ("http", "https", "file"),
) -> tuple[list[str | None], list[list[str]]]:
    """REAL fetch implementation on stdlib ``urllib`` — the production
    ``fetch_fn`` for ``crawl_frontier`` (reference ``scraper/main.py:84-136``
    drives Selenium page-by-page; here each Arrow batch fetches its slice of
    the frontier in-executor). Handles ``http(s)://`` and ``file://`` URLs
    (the latter lets the integration test drive this exact code path on
    checked-in fixtures with zero network); out-links are parsed with
    ``html.parser`` and resolved against the page URL, so relative hrefs
    crawl correctly. A failed fetch yields (None, []) — recorded as a
    visited dead page, the reference's behavior — never an exception that
    would kill the whole Arrow batch.

    ``allowed_schemes`` is a hard floor under whatever the caller queued:
    anything else (data:, ftp:, mailto:, a scheme-less string) is treated as
    a dead page without ever touching ``urlopen``. Whether ``file`` belongs
    in a given CRAWL is decided one level up — ``crawl_frontier`` only
    frontiers file:// links when the crawl was seeded with file:// (so a
    remote page linking file:///etc/passwd is never fetched)."""
    from html.parser import HTMLParser
    from urllib.parse import urljoin
    from urllib.request import urlopen

    class LinkParser(HTMLParser):
        def __init__(self) -> None:
            super().__init__()
            self.hrefs: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag == "a":
                self.hrefs.extend(v for k, v in attrs if k == "href" and v)

    contents: list[str | None] = []
    links: list[list[str]] = []
    for u in urls:
        if url_scheme(u) not in allowed_schemes:
            contents.append(None)
            links.append([])
            continue
        try:
            with urlopen(u, timeout=timeout) as resp:  # noqa: S310 — scheme
                # allowlisted above; file:// policy enforced by the caller
                body = resp.read().decode("utf-8", "replace")
        except Exception:
            contents.append(None)
            links.append([])
            continue
        p = LinkParser()
        p.feed(body)
        contents.append(body)
        links.append([urljoin(u, h) for h in p.hrefs])
    return contents, links


def polite_order(urls: list[str]) -> list[int]:
    """Round-robin index order across domains: consecutive fetches hit
    DIFFERENT domains whenever possible, so per-domain spacing waits overlap
    with other domains' work instead of stalling the task. Deterministic
    (domains in first-appearance order, per-domain queues in input order)."""
    queues: dict[str, list[int]] = {}
    for i, u in enumerate(urls):
        queues.setdefault(url_domain(u), []).append(i)
    order: list[int] = []
    qs = list(queues.values())
    while qs:
        nxt = []
        for q in qs:
            order.append(q.pop(0))
            if q:
                nxt.append(q)
        qs = nxt
    return order


def default_robots_url(url: str) -> str:
    """Well-known robots.txt location for ``url``'s authority. For schemes
    with no authority-rooted layout (``file://`` mini-sites), pass a custom
    ``robots_url_fn`` to ``crawl_frontier`` instead."""
    return f"{url_scheme(url)}://{url_domain(url)}/robots.txt"


def robots_checker(
    robots_url_fn: Callable[[str], str] | None = None,
    user_agent: str = "*",
) -> Callable[[str], bool]:
    """Per-task robots.txt gate: ``checker(url) -> fetch allowed?``.

    Built on stdlib ``urllib.robotparser`` (the reference crawls without
    honoring robots — ``scraper/main.py:84-136`` — which a production
    crawler must not do). The parsed robots file is CACHED per
    (scheme, authority) inside the closure, so a task fetches each domain's
    robots.txt once no matter how many of its URLs the batch holds — and
    since ``crawl_frontier`` routes one domain to one task, each robots.txt
    is fetched once per crawl ROUND, not once per page. An unreachable or
    missing robots.txt allows the crawl (the de-facto crawler convention;
    401/403 are handled as disallow by ``robotparser`` itself)."""
    import urllib.robotparser

    to_url = robots_url_fn or default_robots_url
    cache: dict[str, Any] = {}

    def allowed(url: str) -> bool:
        key = f"{url_scheme(url)}://{url_domain(url)}"
        rp = cache.get(key)
        if rp is None:
            rp = urllib.robotparser.RobotFileParser()
            rp.set_url(to_url(url))
            try:
                rp.read()
            except Exception:
                rp.allow_all = True  # no robots reachable -> no restrictions
            cache[key] = rp
        return rp.can_fetch(user_agent, url)

    return allowed


def crawl_frontier(
    seeds: DataFrame,
    fetch_fn: Callable[[list[str]], tuple[list[str | None], list[list[str]]]]
    | None = None,
    max_depth: int = 3,
    allowed_schemes: tuple[str, ...] | None = None,
    min_delay_per_domain: float = 0.0,
    politeness_jitter: float = 0.0,
    respect_robots: bool = False,
    robots_url_fn: Callable[[str], str] | None = None,
    user_agent: str = "*",
) -> DataFrame:
    """S9 — breadth-first crawl as iterative DataFrame algebra.

    ``seeds``: one column ``url``. ``fetch_fn(urls) -> (contents, links)``
    is applied inside ``mapInPandas`` per Arrow batch. Returns
    (url, content, depth): every page fetched exactly once (first depth
    wins), across ``max_depth`` BFS rounds.

    Scheme policy (the default frontier filter): ``allowed_schemes=None``
    derives the allowlist as http/https PLUS whatever schemes the seeds
    themselves use — so a file://-seeded integration crawl works, but a
    remote page linking ``file:///etc/passwd`` into an http(s) crawl never
    reaches the fetcher. The filter applies to every round's frontier,
    seeds included.

    Politeness (reference ``scraper/main.py:101-103,135`` sleeps between
    page loads): ``min_delay_per_domain`` > 0 enforces at-least-that spacing
    between successive fetch STARTS against the same domain. The frontier is
    repartitioned by domain so one task owns one domain's queue (spacing
    needs a single clock per domain), and inside each Arrow batch the URLs
    are reordered round-robin across domains (``polite_order``) so one
    domain's wait overlaps other domains' fetches instead of stalling the
    task — serialize within domain, parallelize across.
    ``politeness_jitter`` widens each same-domain wait by up to that
    fraction of ``min_delay_per_domain``, derived DETERMINISTICALLY from the
    URL's CRC-32 (reproducible runs, unlike random jitter) — it breaks the
    lock-step cadence a fixed delay produces when thousands of tasks crawl
    in parallel, so same-instant fetch bursts against shared infrastructure
    decorrelate.

    ``respect_robots=True`` filters every fetch through the domain's
    robots.txt (``robots_checker`` above: stdlib robotparser, cached one
    fetch per domain per task). A disallowed URL is recorded as a dead page
    (content NULL, links unfollowed) — it enters the visited set so later
    rounds never re-queue it.

    Scale: the visited set stays distributed (anti-join, never collected);
    each round's frontier is checkpointed so the iteration doesn't stack
    lineage — same discipline as ``dedup.connected_components``.

    To see where a crawl's time goes, time it from outside with
    ``perfbench.census.Census`` (tools/bench_crawl.py wraps the whole crawl
    in one ``span``)."""
    fetch = fetch_fn or default_fetch
    if allowed_schemes is None:
        # '' (scheme-less seed names, as in the stub-fetch tests) is a seed
        # scheme like any other: seeding bare names allows bare-name links.
        seed_schemes = {
            r[0]
            for r in seeds.select(
                F.lower(
                    F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
                )
            )
            .distinct()
            .collect()  # distinct SCHEMES — a handful of rows, never URLs
        }
        allowed_schemes = tuple({"http", "https"} | seed_schemes)
    scheme_ok = F.lower(
        F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    ).isin(*allowed_schemes)

    def fetch_batches(it: Iterator[Any]) -> Iterator[Any]:
        import zlib

        import pandas as pd

        robots_ok = (
            robots_checker(robots_url_fn, user_agent) if respect_robots else None
        )

        def spacing(url: str) -> float:
            # deterministic per-URL jitter on top of the floor delay
            frac = (zlib.crc32(url.encode("utf-8")) % 1000) / 1000.0
            return min_delay_per_domain * (1.0 + politeness_jitter * frac)

        for pdf in it:
            urls = pdf["url"].tolist()
            contents: list[str | None] = [None] * len(urls)
            links: list[list[str]] = [[] for _ in urls]
            todo = [
                i
                for i, u in enumerate(urls)
                if robots_ok is None or robots_ok(u)
            ]
            sub = [urls[i] for i in todo]
            if min_delay_per_domain > 0 and len(sub) > 1:
                last_start: dict[str, float] = {}
                for k in polite_order(sub):
                    i = todo[k]
                    dom = url_domain(urls[i])
                    prev = last_start.get(dom)
                    now = time.monotonic()
                    wait = spacing(urls[i])
                    if prev is not None and now - prev < wait:
                        time.sleep(wait - (now - prev))
                    last_start[dom] = time.monotonic()
                    c, ls = fetch([urls[i]])
                    contents[i], links[i] = c[0], ls[0]
            elif sub:
                c, ls = fetch(sub)
                for k, i in enumerate(todo):
                    contents[i], links[i] = c[k], ls[k]
            yield pd.DataFrame(
                {"url": urls, "content": contents, "links": links}
            )

    frontier = (
        seeds.select("url").filter(scheme_ok).distinct()
    ).localCheckpoint(eager=True)
    visited = None  # (url, content, depth)
    for depth in range(max_depth + 1):
        if min_delay_per_domain > 0:
            # one task per domain hash-bucket: a domain's queue never splits
            # across tasks, so the per-domain clock in fetch_batches is global
            frontier = frontier.repartition(
                F.lower(F.regexp_extract("url", r"^[^:]+://([^/?#]*)", 1))
            )
        # checkpoint the FETCH output itself: pages and out_links both
        # consume it, and without the pin the second consumer re-runs the
        # whole mapInPandas fetch — every page fetched twice per round,
        # and (worse than the 2x cost) a non-deterministic fetcher could
        # hand out_links a DIFFERENT link set than the one visited
        # recorded (r11, found while scale-benching the frontier)
        fetched = frontier.mapInPandas(
            fetch_batches, schema=FETCH_SCHEMA
        ).localCheckpoint(eager=True)
        pages = fetched.select("url", "content", F.lit(depth).alias("depth"))
        visited = pages if visited is None else visited.union(pages)
        if depth == max_depth:
            break
        out_links = (
            fetched.select(F.explode_outer("links").alias("url"))
            .filter(F.col("url").isNotNull())
            .filter(scheme_ok)
            .distinct()
        )
        # Lazy checkpoint + count: ONE job materializes the next frontier's
        # blocks, truncates lineage AND answers the emptiness test. The
        # previous eager-checkpoint + isEmpty shape paid two jobs per BFS
        # round for the same information; the round loop is
        # job-latency-bound at every site size because the per-round data
        # shrinks while the fixed job cost does not (r11, guide §1.2/§2.4).
        # fetched is already eagerly cached, so the anti-join's two reads
        # of it (out_links, visited) cannot re-run the fetch.
        frontier = out_links.join(
            visited.select("url"), "url", "left_anti"
        ).localCheckpoint(eager=False)
        if frontier.count() == 0:
            break
    return visited


# ---------------------------------------------------------------------------
# Driver row: the real frontier crawl, oracle-checked (VERDICT r9 item 3)
# ---------------------------------------------------------------------------

_CRAWL_SITE_N = 400  # pages in the synthetic minisite (constant, never SF-sized)
_CRAWL_MAX_DEPTH = 3


def _crawl_edges(n: int, r: int) -> list[int]:
    """Deterministic out-links of page rank ``r`` in an ``n``-page site:
    a binary tree (2r+1, 2r+2) overlaid with two modular cross links —
    min-depth from rank 0 is then a genuine BFS fixpoint, not a closed
    form. MUST match the oracle's UNNEST list term for term."""
    return [t for t in (2 * r + 1, 2 * r + 2, (3 * r + 2) % n, (7 * r + 5) % n) if t < n]


_CRAWL_ORACLE = f"""
WITH RECURSIVE base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_CRAWL_SITE_N}
),
ids AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS r
    FROM base
),
nn AS (SELECT COUNT(*) AS n FROM ids),
edges AS (
    SELECT s.doc_id AS src, t.doc_id AS dst
    FROM (
        SELECT doc_id,
               UNNEST([2*r+1, 2*r+2, (3*r+2) % nn.n, (7*r+5) % nn.n]) AS tr
        FROM ids, nn
    ) s
    JOIN ids t ON t.r = s.tr
),
bfs AS (
    SELECT doc_id, 0 AS depth FROM ids WHERE r = 0
    UNION
    SELECT e.dst AS doc_id, b.depth + 1 AS depth
    FROM bfs b JOIN edges e ON e.src = b.doc_id
    WHERE b.depth < {_CRAWL_MAX_DEPTH}
)
SELECT doc_id, CAST(MIN(depth) AS INT) AS depth FROM bfs GROUP BY doc_id
"""


@query("q_crawl_frontier", oracle=_CRAWL_ORACLE)
def q_crawl_frontier(spark, sf_dir: str) -> DataFrame:
    """S9 as a driver row (VERDICT r9 item 3 — the one shipped subsystem
    that had only pytest coverage): run the REAL distributed frontier —
    ``crawl_frontier`` with the stdlib ``urllib_fetch`` doing file://
    fetches and html.parser link extraction inside ``mapInPandas`` — over
    a deterministic minisite derived from the ``documents`` table, and
    hash-check every page's BFS min-depth against a DuckDB recursive-CTE
    transcription of the same link graph (reference
    ``scraper/main.py:84-136``: its sequential Selenium loop, here a
    per-round Arrow-parallel fetch).

    The minisite: one page per the {n} smallest doc_ids; page rank r
    links to ranks 2r+1, 2r+2, (3r+2)%n, (7r+5)%n (``_crawl_edges``).
    Site generation is test harness (bounded: {n} constant-size pages,
    one driver-side collect of {n} ids); the OPERATOR under test is the
    distributed BFS itself — frontier anti-joined against the visited
    set, per-depth localCheckpoint, exactly-once fetch per URL."""
    import shutil
    import tempfile

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = sorted(
        r[0]
        for r in d.select("doc_id")
        .orderBy("doc_id")
        .limit(_CRAWL_SITE_N)
        .collect()  # bounded: <= _CRAWL_SITE_N constant rows
    )
    n = len(ids)
    root = tempfile.mkdtemp(prefix="crawl_site_")
    try:
        for r, doc in enumerate(ids):
            hrefs = "".join(
                f'<a href="p{ids[t]}.html">x</a>' for t in _crawl_edges(n, r)
            )
            with open(f"{root}/p{doc}.html", "w", encoding="utf-8") as f:
                f.write(f"<html><body>doc {doc}{hrefs}</body></html>")
        seeds = spark.createDataFrame(
            [(f"file://{root}/p{ids[0]}.html",)], ["url"]
        )
        visited = crawl_frontier(
            seeds, fetch_fn=urllib_fetch, max_depth=_CRAWL_MAX_DEPTH
        )
        out = visited.select(
            F.regexp_extract("url", r"p(\d+)\.html$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("depth").cast("int").alias("depth"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


q_crawl_frontier.__doc__ = q_crawl_frontier.__doc__.format(n=_CRAWL_SITE_N)


def with_retry(
    action: Callable[[], Any],
    retries: int = 5,
    base_delay: float = 0.1,
    retry_on: type[BaseException] = Exception,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """ST3 — bounded exponential-backoff retry around a boundary action
    (sink write, service connect). Re-raises the last failure once the
    budget is spent; delay doubles per attempt."""
    last: BaseException | None = None
    for attempt in range(retries + 1):
        try:
            return action()
        except retry_on as exc:  # noqa: PERF203 — retry loop by design
            last = exc
            if attempt < retries:
                sleep(base_delay * (2**attempt))
    assert last is not None
    raise last
