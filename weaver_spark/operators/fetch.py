"""Fetch + parse + decode as one Arrow-batched ``mapInPandas`` stage.

Reference path being re-expressed (SURVEY.md S5/F4/F5/U1): colly GET with
retry/backoff (``/root/reference/src/scrapper/amazonRootHandler.go:14-26``),
URLType dispatch switch (``src/scrapper/queueService.go:169-197``), CSS
selector field extraction (``neweggProductHandler.go:21-48``), link
extraction with DOM-order caps (``amazonRootHandler.go:33-43``).

Spark-first shape: the scheduler hands this stage a DataFrame of leased
URLs already joined with their page content source; ``mapInPandas``
processes Arrow batches entirely on executors — fetching, dispatching by
url_type, extracting links, decoding image payloads (real PNG/lossy codec
in ``codec.py``), computing phash — and emits one typed result row per
URL. No ``collect()``, no per-row Python UDFs, no driver involvement.

Two fetchers:

- ``synthetic_fetch_fn``: resolves against the closed synthetic web
  (FIXTURES.md §3). Page content (links/image_id/caption/fmt) arrives as
  joined columns; pixels are generated deterministically from image_id on
  the executor and round-tripped through the codec — the decode work is
  real, only the network is simulated. Links are emitted canonical
  (``canonicalize_series`` once per batch), so the engine's links pass
  runs no Python.
- ``http_fetch_fn``: a real urllib-based batch fetcher with the
  reference's 5x exponential backoff. Not exercised by tests (the sandbox
  has no network) but shows the production shape: same signature, same
  output schema, swap one function.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from ..codec import decode_image, phash64
from ..functions.urls import canonicalize_series
from ..schemas import URL_TYPE_ROOT

_FETCH_INPUT_COLS = [
    "url",
    "enqueue_seq",
    "host",
    "url_type",
    "depth",
    "page_kind",
    "page_links",
    "page_image_id",
    "page_fmt",
    "page_caption",
]


def make_synthetic_fetch_fn(k_cap: int | None, seed: int = 42):
    """Build the mapInPandas callable for the synthetic web."""

    def fetch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # heavy imports resolve once per python worker, not per batch
        from ..webgen import gen_payload

        for pdf in batches:
            n = len(pdf)
            out = {
                "url": pdf["url"],
                "enqueue_seq": pdf["enqueue_seq"],
                "host": pdf["host"],
                "url_type": pdf["url_type"],
                "depth": pdf["depth"],
                "status_code": np.where(pdf["page_kind"].notna(), 200, 404).astype(
                    "int32"
                ),
                "links": [None] * n,
                "image_id": [None] * n,
                "bytes": [None] * n,
                "w": [None] * n,
                "h": [None] * n,
                "fmt": [None] * n,
                "caption": [None] * n,
                "phash": [None] * n,
                "bytes_len": np.zeros(n, dtype="int64"),
                "fetch_ms": np.zeros(n, dtype="int64"),
                "final_url": [None] * n,  # the synthetic web never redirects
                "etag": [None] * n,  # validators are an HTTP-mode concept
                "last_modified": [None] * n,
                "sink": ["m"] * n,
            }
            kinds = pdf["page_kind"].to_numpy(dtype=object)
            links_col = pdf["page_links"].to_numpy(dtype=object)
            image_ids = pdf["page_image_id"].to_numpy(dtype=object)
            captions = pdf["page_caption"].to_numpy(dtype=object)
            # pre-fetch dedup verdict (engine winner anti-join): only
            # winner rows materialize payload bytes — losers are still
            # fetched (status/metrics) but skip generation entirely
            if "_store" in pdf.columns:
                stores = pdf["_store"].eq(True).to_numpy(dtype=bool)
            else:
                stores = np.ones(n, dtype=bool)
            root_rows: list[tuple[int, int]] = []  # (row, its link count)
            raw_links: list[str] = []
            for i in range(n):
                t0 = time.perf_counter()
                kind = kinds[i]
                if kind == "root":
                    links = list(links_col[i]) if links_col[i] is not None else []
                    if k_cap is not None:
                        links = links[:k_cap]
                    root_rows.append((i, len(links)))
                    raw_links.extend(links)
                elif kind == "leaf":
                    iid = image_ids[i]
                    out["image_id"][i] = iid
                    out["caption"][i] = captions[i]
                    if stores[i]:
                        payload, w, h, fmt, ph = gen_payload(iid, seed)
                        out["bytes"][i] = payload
                        out["w"][i] = w
                        out["h"][i] = h
                        out["fmt"][i] = fmt
                        out["phash"][i] = ph
                        out["bytes_len"][i] = len(payload)
                        out["sink"][i] = "p"
                # kind None (404) / "dummy": nothing extracted
                out["fetch_ms"][i] = int((time.perf_counter() - t0) * 1000)
            # links leave canonical: one vectorized pass over the batch's
            # links, in link_pos order (the enqueue-time canonicalizer)
            canon = canonicalize_series(pd.Series(raw_links, dtype=object)).tolist()
            pos = 0
            for i, k in root_rows:
                out["links"][i] = canon[pos : pos + k]
                pos += k
            res = pd.DataFrame(out)
            res["w"] = res["w"].astype("Int32")
            res["h"] = res["h"].astype("Int32")
            # pd.array, NOT astype("Int64"): astype routes object->float64
            # when NULLs are present and rounds int64s above 2^53 — phash
            # values are full-range 64-bit.
            res["phash"] = pd.array(out["phash"], dtype="Int64")
            yield res

    return fetch_fn


# synthetic status codes for locally-rejected responses (>=400 so the
# metrics/failure accounting treats them as failed fetches; none retry —
# retrying an oversize body or a wrong media type returns the same answer)
STATUS_UNSUPPORTED_MEDIA = 597  # Content-Type outside allowed_content_types
STATUS_BODY_TOO_LARGE = 598  # body exceeded max_body_bytes (never buffered)
STATUS_CONNECT_FAILED = 599  # all retries exhausted on socket errors

_READ_CHUNK = 1 << 20  # 1 MiB: bounds slow-loris wall time to cap/chunk*timeout


def read_body_capped(resp, max_body_bytes: int, chunk: int = _READ_CHUNK):
    """Read a response body in bounded chunks, transparently gunzipping a
    ``Content-Encoding: gzip`` stream, with the cap applied to the
    DECOMPRESSED byte count — a 10 KB gzip bomb expanding to 10 GB trips
    the cap after one chunk, never after buffering (CDNs force gzip on
    crawlers routinely, and colly's net/http handles this for the
    reference transparently). Returns (body_bytes, True) or (b"", False)
    when the cap was crossed or the gzip stream is corrupt."""
    import zlib

    enc = ""
    headers = getattr(resp, "headers", None)
    if headers is not None:
        enc = (headers.get("Content-Encoding") or "").lower().strip()
    gz = zlib.decompressobj(16 + zlib.MAX_WBITS) if enc in ("gzip", "x-gzip") else None
    chunks: list[bytes] = []
    total = 0
    while True:
        c = resp.read(chunk)
        if not c:
            break
        if gz is not None:
            try:
                c = gz.decompress(c, max_body_bytes + 1 - total)
            except zlib.error:
                return b"", False  # corrupt stream: treat as unreadable
            # unconsumed_tail non-empty == decompressing one more byte
            # would cross the cap: bomb (or just oversize) — reject
            if gz.unconsumed_tail:
                return b"", False
        total += len(c)
        if total > max_body_bytes:
            return b"", False
        if c:
            chunks.append(c)
    if gz is not None:
        try:
            tail = gz.flush()
        except zlib.error:
            return b"", False
        total += len(tail)
        if total > max_body_bytes:
            return b"", False
        if tail:
            chunks.append(tail)
    return b"".join(chunks), True


# Permissive href extraction (the real-web floor): double-quoted,
# single-quoted, and unquoted attribute values, any tag. The reference's
# colly uses a real HTML parser; a regex floor must at least not drop
# the majority syntax variants a template engine emits.
_HREF_RE_PERMISSIVE = None  # compiled lazily (module import stays light)
_BASE_RE = None
_META_CHARSET_RE = None


def _html_res():
    global _HREF_RE_PERMISSIVE, _BASE_RE, _META_CHARSET_RE
    import re

    if _HREF_RE_PERMISSIVE is None:
        _HREF_RE_PERMISSIVE = re.compile(
            r"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"'`]+))""", re.IGNORECASE
        )
        _BASE_RE = re.compile(
            r"""<base\b[^>]*\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"'`]+))""",
            re.IGNORECASE,
        )
        _META_CHARSET_RE = re.compile(
            rb"""<meta\b[^>]*charset\s*=\s*["']?\s*([\w.:-]+)""", re.IGNORECASE
        )
    return _HREF_RE_PERMISSIVE, _BASE_RE, _META_CHARSET_RE


def decode_html_body(body: bytes, content_type: str | None) -> str:
    """Charset-aware page decode: Content-Type header charset param,
    else a <meta charset=...> / <meta http-equiv Content-Type> sniff
    over the first 2 KB, else utf-8 — always with replacement, a wrong
    declared charset must never kill the parse (an ISO-8859-1 page read
    as utf-8-replace garbles every non-ASCII caption silently)."""
    import re

    enc = None
    if content_type:
        m = re.search(r"charset=[\"']?([\w.:-]+)", content_type, re.IGNORECASE)
        if m:
            enc = m.group(1)
    if enc is None:
        _, _, meta_re = _html_res()
        m = meta_re.search(body[:2048])
        if m:
            enc = m.group(1).decode("ascii", "replace")
    try:
        return body.decode(enc or "utf-8", "replace")
    except LookupError:  # unknown/garbage charset label
        return body.decode("utf-8", "replace")


def extract_links(
    text: str, base_url: str | None, k_cap: int | None
) -> list[str]:
    """Hrefs in DOM order: permissive attribute forms, fragment-only and
    javascript:/mailto:/data: links skipped, <base href> honored —
    resolved against the page URL per the HTML spec, then every
    extracted href resolves against that base BEFORE the engine's
    vectorized RFC 3986 resolve (absolute URLs pass through it
    unchanged, so pre-resolving here keeps the engine join-free)."""
    from urllib.parse import urljoin

    href_re, base_re, _ = _html_res()
    base = None
    mb = base_re.search(text)
    if mb:
        b = next(g for g in mb.groups() if g is not None).strip()
        if b:
            base = urljoin(base_url, b) if base_url else b
    links = []
    for m in href_re.finditer(text):
        if mb is not None and mb.start() <= m.start() < mb.end():
            continue  # the <base> tag's own href is not a link
        href = next(g for g in m.groups() if g is not None).strip()
        if not href or href.startswith("#"):
            continue
        low = href[:11].lower()
        if low.startswith(("javascript:", "mailto:", "data:", "tel:")):
            continue
        links.append(urljoin(base, href) if base else href)
        if k_cap is not None and len(links) >= k_cap:
            break
    return links


def make_http_fetch_fn(
    k_cap: int | None,
    link_selector_re: str | None = None,
    timeout_s: float = 10.0,
    max_retries: int = 5,
    max_concurrency: int = 16,
    backoff_base_s: float = 1.0,
    opener=None,
    max_body_bytes: int = 64 * 1024 * 1024,
    allowed_content_types: tuple | None = None,
    user_agent: str = "weaver-spark",
):
    """Production-shaped HTTP fetcher (reference retryVisit semantics:
    5 attempts, 2^i s backoff — ``amazonRootHandler.go:14-26``).

    Network I/O is the one place thread concurrency inside mapInPandas is
    exactly right: each Arrow batch is fetched through a bounded
    ThreadPoolExecutor (``max_concurrency`` sockets per python worker —
    total cluster fan-out = workers x concurrency, which is what the
    per-host politeness scheduler upstream budgets for). HTTP 4xx/5xx are
    responses, not failures (no retry); connection errors retry with the
    reference's 2^i backoff. Parsing: links via a regex dispatch table
    (the CSS-selector analogue, U1 registry), payload pages through the
    image codec. ``opener(url, timeout) -> response`` is injectable so
    tests run against a local http.server without monkeypatching.

    Hostile-web bounds (a 10^10-URL crawl WILL hit all of these):

    - ``max_body_bytes``: bodies are read in 1 MiB chunks and abandoned
      the moment the cap is crossed (status 598) — a multi-GB response
      can never buffer into a python worker, and a slow-loris stream is
      bounded at cap/chunk socket timeouts. Content-Length, when the
      server sends an honest one, rejects before the first byte.
    - ``allowed_content_types``: prefix allowlist (e.g. ``("text/",
      "image/")``) checked against Content-Type BEFORE the body is read
      (status 597). None = no gate.

    In-round politeness pacing: rows arriving with a positive
    ``_delay_ms`` column (robots crawl-delay, carried by apply_robots;
    the engine routes each delayed host into a single task) are fetched
    SEQUENTIALLY per host with >= delay_ms between one response and the
    next request — the per-round cap bounds volume, this bounds rate.
    Undelayed rows keep full pool concurrency.

    Conditional recrawl: rows arriving with non-null ``_etag`` /
    ``_last_modified`` columns (the engine's recrawl path joins them
    from the stored images table) are fetched with If-None-Match /
    If-Modified-Since; a 304 response costs headers only and flows out
    as status_code 304 with no body — the engine keeps the stored
    payload and counts the row as revalidated.
    """
    import inspect
    import re
    import urllib.error
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    # custom regex = legacy selector-registry path (findall, group 1);
    # None = the permissive extractor with <base href> + charset floor
    link_re = re.compile(link_selector_re) if link_selector_re else None
    base_headers = {"Accept-Encoding": "gzip", "User-Agent": user_agent}
    if opener is None:
        def _open(url, timeout, headers):
            req = urllib.request.Request(url, headers=headers)
            return urllib.request.urlopen(req, timeout=timeout)
    elif len(inspect.signature(opener).parameters) >= 3:
        _open = opener
    else:  # legacy injectable opener(url, timeout): headers dropped
        def _open(url, timeout, headers, _o=opener):
            return _o(url, timeout)

    def fetch_one(url: str, cond: dict | None = None) -> tuple:
        """(status, body, ms, final_url, ctype, etag, last_modified) —
        final_url is the POST-redirect URL (urllib follows 3xx silently;
        ``r.geturl()`` exposes where the response actually came from).
        Payload keys and link resolution must use it: two request URLs
        301-ing to one target are ONE payload, and relative hrefs
        resolve against the final base, not the pre-redirect one.
        ``cond`` adds conditional-request headers (recrawl)."""
        t0 = time.perf_counter()

        def ms() -> int:
            return int((time.perf_counter() - t0) * 1000)

        hdrs = dict(base_headers, **(cond or {}))
        for attempt in range(max_retries):
            try:
                with _open(url, timeout_s, hdrs) as r:
                    final = url
                    geturl = getattr(r, "geturl", None)
                    if callable(geturl):
                        final = geturl() or url
                    headers = getattr(r, "headers", None)
                    ctype = etag = lastmod = None
                    if headers is not None:
                        ctype = headers.get("Content-Type")
                        etag = headers.get("ETag")
                        lastmod = headers.get("Last-Modified")
                    if allowed_content_types is not None:
                        ct = (ctype or "").lower()
                        if not any(ct.startswith(p) for p in allowed_content_types):
                            return (
                                STATUS_UNSUPPORTED_MEDIA, b"", ms(), final,
                                ctype, etag, lastmod,
                            )
                    clen = (
                        headers.get("Content-Length")
                        if headers is not None
                        else None
                    )
                    if clen is not None:
                        try:
                            # the cap rejects on COMPRESSED length here;
                            # read_body_capped re-checks decompressed
                            if int(clen) > max_body_bytes:
                                return (
                                    STATUS_BODY_TOO_LARGE, b"", ms(), final,
                                    ctype, etag, lastmod,
                                )
                        except ValueError:
                            pass  # dishonest header: the chunk loop decides
                    body, ok = read_body_capped(r, max_body_bytes)
                    if not ok:
                        return (
                            STATUS_BODY_TOO_LARGE, b"", ms(), final,
                            ctype, etag, lastmod,
                        )
                    return r.status, body, ms(), final, ctype, etag, lastmod
            except urllib.error.HTTPError as e:
                # a status line IS an answer — 404 is not a flaky socket;
                # 304 Not Modified lands here too (urllib raises on it).
                # final_url from e.geturl(): error responses keep the
                # documented post-redirect final_url semantics.
                final = url
                geturl = getattr(e, "geturl", None)
                if callable(geturl):
                    try:
                        final = geturl() or url
                    except Exception:
                        final = url
                return e.code, b"", ms(), final, None, None, None
            except Exception:
                if attempt == max_retries - 1:
                    break
                time.sleep(min(backoff_base_s * (2.0**attempt), 30.0))
        return STATUS_CONNECT_FAILED, b"", ms(), url, None, None, None

    def fetch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition pacing state: last response-completion time per
        # delayed host. The engine's (host, 0)-salted routing puts ALL of
        # a delayed host's rows in this partition, so this dict is the
        # host's single authoritative clock for the round.
        last_done: dict[str, float] = {}

        def paced_fetch(host: str, idxs: list, delay_s: float, urls: list, conds: list):
            out = []
            for i in idxs:
                wait = last_done.get(host, float("-inf")) + delay_s - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                r = fetch_one(urls[i], conds[i])
                last_done[host] = time.monotonic()
                out.append((i, r))
            return out

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            for pdf in batches:
                n = len(pdf)
                urls = pdf["url"].tolist()
                url_types = pdf["url_type"].tolist()
                # conditional-request headers per row (recrawl path)
                conds: list = [None] * n
                if "_etag" in pdf.columns or "_last_modified" in pdf.columns:
                    etags = (
                        pdf["_etag"].tolist()
                        if "_etag" in pdf.columns
                        else [None] * n
                    )
                    lmods = (
                        pdf["_last_modified"].tolist()
                        if "_last_modified" in pdf.columns
                        else [None] * n
                    )
                    for i in range(n):
                        c = {}
                        if isinstance(etags[i], str) and etags[i]:
                            c["If-None-Match"] = etags[i]
                        if isinstance(lmods[i], str) and lmods[i]:
                            c["If-Modified-Since"] = lmods[i]
                        if c:
                            conds[i] = c
                if "_delay_ms" in pdf.columns:
                    delays = (
                        pd.to_numeric(pdf["_delay_ms"], errors="coerce")
                        .fillna(0)
                        .to_numpy()
                    )
                else:
                    delays = None
                if delays is None or not (delays > 0).any():
                    fetched = list(pool.map(fetch_one, urls, conds))
                else:
                    hosts = pdf["host"].tolist()
                    per_host: dict[str, list] = {}
                    plain: list[int] = []
                    for i in range(n):
                        if delays[i] > 0:
                            per_host.setdefault(hosts[i], []).append(i)
                        else:
                            plain.append(i)
                    futs = [
                        pool.submit(lambda i=i: (i, fetch_one(urls[i], conds[i])))
                        for i in plain
                    ]
                    pfuts = [
                        pool.submit(
                            paced_fetch,
                            h,
                            idxs,
                            float(delays[idxs[0]]) / 1000.0,
                            urls,
                            conds,
                        )
                        for h, idxs in per_host.items()
                    ]
                    fetched = [None] * n
                    for f in futs:
                        i, r = f.result()
                        fetched[i] = r
                    for f in pfuts:
                        for i, r in f.result():
                            fetched[i] = r
                # canonical post-redirect URLs, vectorized once per batch
                # (same canonicalizer as enqueue time, so a final URL and
                # its enqueued spelling can never disagree)
                finals = list(
                    canonicalize_series(pd.Series([t[3] for t in fetched]))
                )
                out = {
                    "url": pdf["url"],
                    "enqueue_seq": pdf["enqueue_seq"],
                    "host": pdf["host"],
                    "url_type": pdf["url_type"],
                    "depth": pdf["depth"],
                    "status_code": np.array(
                        [t[0] for t in fetched], dtype="int32"
                    ),
                    "links": [None] * n,
                    "image_id": [None] * n,
                    "bytes": [None] * n,
                    "w": [None] * n,
                    "h": [None] * n,
                    "fmt": [None] * n,
                    "caption": [None] * n,
                    "phash": [None] * n,
                    "bytes_len": np.zeros(n, dtype="int64"),
                    "fetch_ms": np.array(
                        [t[2] for t in fetched], dtype="int64"
                    ),
                    "final_url": finals,
                    "etag": [t[5] for t in fetched],
                    "last_modified": [t[6] for t in fetched],
                    "sink": ["m"] * n,
                }
                if "_store" in pdf.columns:
                    stores = pdf["_store"].eq(True).to_numpy(dtype=bool)
                else:
                    stores = np.ones(n, dtype=bool)
                for i, (status, body, _ms, _f, ctype, _e, _l) in enumerate(fetched):
                    if status != 200:
                        continue
                    if url_types[i] == URL_TYPE_ROOT:
                        text = decode_html_body(body, ctype)
                        if link_re is not None:  # legacy custom selector
                            links = link_re.findall(text)
                            if k_cap is not None:
                                links = links[:k_cap]
                        else:
                            links = extract_links(text, finals[i], k_cap)
                        out["links"][i] = links
                    else:
                        # payload key = the canonical FINAL url: request
                        # spellings that 301 to one target share one key
                        out["image_id"][i] = finals[i]
                        if not stores[i]:
                            continue  # dedup loser: fetched, not stored
                        out["bytes"][i] = body
                        out["bytes_len"][i] = len(body)
                        out["sink"][i] = "p"
                        try:
                            px = decode_image(body)
                            h_, w_ = px.shape[:2]
                            out["w"][i] = w_
                            out["h"][i] = h_
                            out["fmt"][i] = "png"
                            out["phash"][i] = phash64(px)
                        except Exception:
                            out["fmt"][i] = "raw"
                res = pd.DataFrame(out)
                res["w"] = res["w"].astype("Int32")
                res["h"] = res["h"].astype("Int32")
                res["phash"] = pd.array(out["phash"], dtype="Int64")
                yield res

    return fetch_fn
