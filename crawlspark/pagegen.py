"""Deterministic synthetic TripAdvisor-like site — the SINGLE source of truth
shared by (a) the pure-Python sequential oracle simulator (tests/oracle_ref.py),
(b) the Spark-side fetch simulator (crawlspark/fetch.py, native expressions),
and (c) the fixture generators (crawlspark/fixtures.py).

Everything here is a pure function of its keys (seeded by XXH64, seed=42 — the
same hash Spark's ``F.xxhash64`` computes), so the engine and the oracle agree
bit-for-bit with no RNG state.  Semantics encode BASELINE.json:6's reference
behavior: a seed hotel-ID list, a ``hotelID -> overview -> review-page``
fanout, listing pages paginated with ``oa{offset}`` (30 hotels/page), review
pages with ``or{offset}`` (10 reviews/page), listing pages before
review-detail pages.  Span payloads follow the driver-mandated interleaved
shape (BASELINE.json:15): ``(kind, text, media_ref, offset:int32)`` exactly as
specified in FIXTURES.md §1.

All modular arithmetic uses Python's floor-mod on the SIGNED hash, which
equals Spark's ``pmod(xxhash64(...), m)`` — this is what lets the Spark-side
fetch simulator be expressed in pure native expressions.

No Spark imports here — this module must stay importable by the zero-Spark
oracle and by Python workers inside pandas UDFs.
"""

from __future__ import annotations

import math
from typing import List, Optional, Tuple

from crawlspark.xxh import xxh64_str

# --- site topology ---------------------------------------------------------

N_HOSTS = 8
HOSTS: List[str] = [f"h{i}.tripadvisor.example" for i in range(N_HOSTS)]
HOT_HOST = HOSTS[0]  # holds ~50% of hotels (FIXTURES.md §3: per-host skew)
ROBOTS_HOSTS = [HOSTS[1], HOSTS[2]]  # hosts with disallow rules (FIXTURES.md §4)
DISALLOW_PREFIXES = ["/private", "/Settings"]
CRAWL_DELAY_HOST = HOSTS[3]
CRAWL_DELAY_MS = 1000

LISTING_PAGE_SIZE = 30
REVIEW_STEP = 10

KINDS = ["title", "text", "media", "review"]

VOCAB = (
    "lake view room clean staff pool beach breakfast quiet noisy dated modern "
    "spacious cramped friendly rude wifi parking shuttle lobby balcony ocean "
    "garden suite towel shower pillow mattress buffet coffee bar gym spa "
    "location price value service food dinner lunch nearby walk taxi metro "
    "family kids pet smoke floor elevator key desk check late early book "
    "again never definitely maybe star photo"
).split()


# --- seed universe ---------------------------------------------------------


def hotel_id(rank: int) -> str:
    return f"h{100000 + rank}"


def doc_id_for(rank: int) -> str:
    return f"hotel_{rank:05d}"


def hotel_host(rank: int) -> str:
    """Skewed host assignment: even ranks on the hot host (50%)."""
    if rank % 2 == 0:
        return HOT_HOST
    return HOSTS[1 + ((rank // 2) % (N_HOSTS - 1))]


def review_count(hid: str) -> int:
    return 5 + (xxh64_str(hid) % 96)


def n_review_pages(hid: str) -> int:
    return math.ceil(review_count(hid) / REVIEW_STEP)


def is_private(hid: str) -> bool:
    """~11% of hotels live under a /private path prefix, so a few land on
    the robots-ruled hosts at the 100-hotel equality scale (robots fodder)."""
    return xxh64_str("priv:" + hid) % 9 == 0


# --- URL construction (canonical by construction, like the reference's
# template arithmetic) -------------------------------------------------------


def listing_url(host: str, oa_offset: int) -> str:
    return f"https://{host}/Hotels-g1-oa{oa_offset}.html"


def _prefix(hid: str) -> str:
    return "/private" if is_private(hid) else ""


def overview_url(host: str, hid: str) -> str:
    return f"https://{host}{_prefix(hid)}/Hotel_Review-d{hid}.html"


def review_url(host: str, hid: str, or_offset: int) -> str:
    return f"https://{host}{_prefix(hid)}/Hotel_Review-d{hid}-or{or_offset}.html"


def url_path(url: str) -> str:
    rest = url.split("://", 1)[1]
    slash = rest.find("/")
    return rest[slash:] if slash >= 0 else "/"


# --- listing-page contents --------------------------------------------------


def host_hotels(n_hotels: int, host: str) -> List[int]:
    """Global seed ranks assigned to `host`, in seed(listing_rank) order."""
    return [r for r in range(n_hotels) if hotel_host(r) == host]


def listing_offsets(n_hotels: int, host: str) -> List[int]:
    n = len(host_hotels(n_hotels, host))
    pages = max(1, math.ceil(n / LISTING_PAGE_SIZE))
    return [LISTING_PAGE_SIZE * k for k in range(pages)]


def listing_page_hotels(n_hotels: int, host: str, oa_offset: int) -> List[int]:
    """Seed ranks listed on one listing page.

    Pages after the first re-list the last hotel of the previous page — a
    deliberate duplicate discovery so the URL-seen set is actually exercised
    (reference behavior: in-memory set skip, BASELINE.json:6).
    """
    mine = host_hotels(n_hotels, host)
    k = oa_offset // LISTING_PAGE_SIZE
    lo, hi = k * LISTING_PAGE_SIZE, (k + 1) * LISTING_PAGE_SIZE
    page = mine[lo:hi]
    if k > 0 and lo - 1 < len(mine):
        page = [mine[lo - 1]] + page
    return page


# --- interleaved span payload (FIXTURES.md §1, exact spec) ------------------


def n_spans(doc_id: str) -> int:
    return 4 + (xxh64_str(doc_id) % 13)


def span(doc_id: str, j: int) -> Tuple[str, Optional[str], Optional[str], int]:
    """Span j of a document: (kind, text, media_ref, offset)."""
    if j == 0:
        kind = "title"
    else:
        kind = KINDS[xxh64_str(f"{doc_id}:{j}") % 4]
    if kind == "media":
        return (kind, None, f"img://{xxh64_str(f'{doc_id}:{j}:m') & ((1 << 64) - 1):016x}", j)
    nw = 3 + (xxh64_str(f"{doc_id}:{j}:n") % 6)
    words = [VOCAB[xxh64_str(f"{doc_id}:{j}:{w}") % len(VOCAB)] for w in range(nw)]
    return (kind, " ".join(words), None, j)


def doc_spans(doc_id: str) -> List[Tuple[str, Optional[str], Optional[str], int]]:
    return [span(doc_id, j) for j in range(n_spans(doc_id))]


def page_spans(
    doc_id: str, page_index: int, n_pages: int
) -> List[Tuple[str, Optional[str], Optional[str], int]]:
    """Spans emitted by one page of a document (page 0 = overview, 1..P =
    review pages).  Round-robin split so reassembly genuinely has to re-order
    by offset (exercises F4 span assembly)."""
    return [s for j, s in enumerate(doc_spans(doc_id)) if j % n_pages == page_index]


# --- shared hashing ---------------------------------------------------------


def url_hash(url: str) -> int:
    """Signed 64-bit hash of the canonical URL == Spark F.xxhash64(url)."""
    return xxh64_str(url)
