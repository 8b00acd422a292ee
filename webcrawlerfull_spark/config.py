"""Crawl semantics constants + run configuration.

The regex/pattern tables below are *behavioral data* of the reference
system (what to match), transcribed from:

- product PATTERNS:        /root/reference/worker/src/utils/config.py:44-74
- DOMAIN_PATTERNS:         /root/reference/worker/src/utils/config.py:79-102
- PAGINATION_PATTERNS:     /root/reference/worker/src/utils/config.py:105-115
- pagination text markers: /root/reference/worker/src/tasks.py:89
- tracking query params:   /root/reference/worker/src/tasks.py:32-33
- category priority:       /root/reference/worker/src/tasks.py:514-517
- important-URL retry:     /root/reference/worker/src/tasks.py:595
- sequential-number pats:  /root/reference/worker/src/tasks.py:120-126
- parser cascade order:    /root/reference/worker/src/utils/config.py:207
- frontier cap 500:        /root/reference/worker/src/tasks.py:529
- early-exit threshold 5:  /root/reference/worker/src/tasks.py:632
- seq-gen caps (3/10/30):  /root/reference/worker/src/tasks.py:114,132,163
"""

from __future__ import annotations

from dataclasses import dataclass

# --- product-URL patterns (SimpleParser / "default" config key) -----------
PATTERNS: list[str] = [
    r"/product[s]?/[a-zA-Z0-9-_]+",
    r"/item[s]?/[a-zA-Z0-9-_]+",
    r"/p/[a-zA-Z0-9-_]+",
    r"/products?(?:[-/][a-zA-Z0-9-_]+)+",
    r"/shop/[a-zA-Z0-9-_]+",
    r"/store/[^/]+/product[s]?/[a-zA-Z0-9-_]+",
    r"/category/[^/]+/[a-zA-Z0-9-_]+",
    r"/detail[s]?/[a-zA-Z0-9-_]+",
    r"/pd[x]?/[a-zA-Z0-9-_]+",
    r"/buy/[a-zA-Z0-9-_]+",
    r"/goods/[a-zA-Z0-9-_]+",
    r"/item-[0-9]+\.html",
    r"/[a-zA-Z0-9-_]+-p-\d+",
    r"/collection[s]?/[a-zA-Z0-9-_]+",
    r"/category/[a-zA-Z0-9-_]+",
    r"/department/[a-zA-Z0-9-_]+",
    r"/dp/[A-Z0-9]+",
    r"/gp/product/[A-Z0-9]+",
    r"/[A-Z0-9]{10,}",
    r"product_id=\d+",
    r"item_id=\d+",
    r"pid=\d+",
]

# --- domain-keyed pattern sets; dict INSERTION ORDER is load-bearing -------
# (ConfigParser picks the first key whose regex re.search-es the page
# netloc, iterating in insertion order — config_parser.py:29-32.)
DOMAIN_PATTERNS: dict[str, list[str]] = {
    "default": PATTERNS,
    "amazon": [
        r"/dp/[A-Z0-9]{10}",
        r"/gp/product/[A-Z0-9]{10}",
    ],
    "shopify": [
        r"/products/[a-zA-Z0-9-]+",
        r"/collections/[^/]+/products/[a-zA-Z0-9-]+",
    ],
    "woocommerce": [
        r"/product/[a-zA-Z0-9-]+",
        r"/shop/[a-zA-Z0-9-]+",
    ],
    "magento": [
        r"/catalog/product/view/id/\d+",
        r"/[a-zA-Z0-9-]+\.html",
    ],
    "bigcommerce": [
        r"/products/[a-zA-Z0-9-]+",
        r"/[a-zA-Z0-9-]+-p\d+",
    ],
}

PAGINATION_PATTERNS: list[str] = [
    r"[?&]page=\d+",
    r"[?&]p=\d+",
    r"/page/\d+",
    r"/p/\d+$",
    r"-page-\d+",
    r"_p\d+",
    r"offset=\d+",
    r"start=\d+",
    r"from=\d+",
]

# anchor-TEXT pagination indicators (substring match on stripped+lowered text)
PAGINATION_TEXT_MARKERS: list[str] = ["next", "page", "»", ">", "load more", "show more"]

# query-param names dropped by normalize_url (SUBSTRING match on param name)
TRACKING_PARAM_SUBSTRINGS: list[str] = [
    "utm_source", "utm_medium", "utm_campaign", "ref", "session",
    "tracking", "click", "affiliate", "source",
]

CATEGORY_PRIORITY_PATTERNS: list[str] = [
    r"/category/", r"/collection", r"/products?/", r"/shop/",
    r"/department/", r"/catalog/", r"/items?/",
]

IMPORTANT_URL_KEYWORDS: list[str] = ["product", "category", "collection"]

SEQUENTIAL_NUMBER_PATTERNS: list[str] = [
    r"/(\d+)(?:/|$)",
    r"p=(\d+)",
    r"page=(\d+)",
    r"-p(\d+)",
    r"_(\d+)\.html",
]

# parser cascade order; "ai" is a deterministic stub (returns nothing) —
# live-LLM parsing is out of scope, the cascade slot is kept for parity.
PARSER_CASCADE: list[str] = ["simple", "config", "ai"]
PARSER_NAMES: list[str] = ["simple", "config", "ai", "sequential"]

FRONTIER_CAP_PER_DOMAIN = 500     # tasks.py:529
CASCADE_EARLY_EXIT = 5            # tasks.py:632
SEQGEN_MIN_PRODUCTS = 3           # tasks.py:114
SEQGEN_SAMPLE = 10                # tasks.py:132
SEQGEN_MAX_URLS = 30              # tasks.py:112


def combined_regex(patterns: list[str]) -> str:
    """OR-combine a pattern list into one regex (compiled once JVM-side)."""
    return "(?:" + ")|(?:".join(patterns) + ")"


def _factorable(rest: str) -> bool:
    """True when ``rest`` (a pattern after its leading ``/``) keeps its
    meaning wrapped as ``(?:rest)`` behind a hoisted ``/``: it does not
    start with a quantifier and has no ``|`` outside groups and
    character classes."""
    if rest[:1] in ("*", "+", "?", "{"):
        return False
    depth, in_class, i = 0, False, 0
    while i < len(rest):
        c = rest[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return False
        i += 1
    return True


def factored_regex(patterns: list[str]) -> str:
    """Match-equivalent reformulation of ``combined_regex`` with the
    shared literal leading ``/`` factored out of the alternation.

    Java's regex engine tries every alternation branch at every start
    position; with N patterns that is N branch attempts per character.
    Since most product patterns begin with a literal ``/``, hoisting it
    (``(?:/a)|(?:/b)|(?:c)`` → ``/(?:(?:a)|(?:b))|(?:c)``) lets every
    non-``/`` position fail in ONE character comparison instead of N
    branch entries — measured 3.2x faster on the crawl's anchor-URL mix
    with byte-identical match sets (tests/test_extras.py).

    EXECUTION-SIDE ONLY: the oracle SQL text interpolates
    ``combined_regex``'s exact output (frozen fingerprints), so that
    function must never change; this one exists for the Spark side,
    where only the boolean match result is observable. A match of
    ``/X`` at position i is exactly a ``/`` at i followed by ``X`` at
    i+1, so the matched language is identical — provided ``/X`` parses
    as the literal ``/`` followed by the whole of ``X``. Two shapes do
    not: a top-level ``|`` in ``X`` (``/a|b`` is ``/a`` OR ``b``, not
    ``/b``), and ``X`` starting with a quantifier (``/+foo`` repeats the
    ``/``). ``_factorable`` sends those patterns to the unfactored
    bucket; no current pattern table has one, so their output is
    unchanged."""
    slash, other = [], []
    for p in patterns:
        if p.startswith("/") and _factorable(p[1:]):
            slash.append(p[1:])
        else:
            other.append(p)
    parts = []
    if slash:
        parts.append("/(?:" + "|".join(f"(?:{p})" for p in slash) + ")")
    parts.extend(f"(?:{p})" for p in other)
    return "|".join(parts)


@dataclass(frozen=True)
class CrawlConfig:
    """One crawl run. ``politeness_budget`` None = unbounded (reference
    parity mode: one round == one BFS depth, exactly tasks.py:415-544).
    A finite budget caps fetches per host per round (the scale path);
    unscheduled rows wait in the per-host queue of
    streaming.delta_frontier."""

    max_depth: int = 3
    politeness_budget: int | None = None
    task_id: str = "task-0"
    # the per-round ceiling: streaming.driver.round_partitions sizes
    # each round's shuffles and fetch fan-out to its frontier below it
    shuffle_partitions: int = 32
    use_bloom: bool = False       # bloom-bucket seen filter (scale path)
    bloom_buckets: int = 64
    bloom_capacity_per_bucket: int = 1_000_000
    # MERGE-equivalent state compaction: every N rounds, rewrite the
    # products/seen round dirs into one (bounds read amplification on a
    # long crawl); None disables (parity mode / short runs)
    compact_every: int | None = None
    # cross-round document dedup (the interleaved-docs curation stage):
    # each round's fetched docs are classified exact_dup / near_dup /
    # kept against the accumulated fingerprint+MinHash-band state
    # (operators.textdedup.incremental_dedup_delta — the doc analogue of
    # the URL-seen bloom state); non-kept docs are excluded from the
    # parser cascade (mentions/products) but still feed link discovery,
    # and lineage gains a docs_deduped counter. Off = reference parity
    # (the reference has no content dedup). dedup_k/dedup_bands tune the
    # MinHash width (production default 64/16; tests drop to 16/4 —
    # same rows-per-band, ~4x less hashing per doc). dedup_bands=0 is
    # exact-only mode: no MinHash state at all, pure fingerprint
    # accounting (the oracle-replicable configuration used by the
    # crawl_e2e_lineage gate entry's dedup variant).
    doc_dedup: bool = False
    dedup_k: int = 64
    dedup_bands: int = 16
    # MinHash hash family for the crawl's doc-dedup stage: 'fast'
    # (crc32 + universal hashing — measured 1.8 s vs 375 s for the
    # md5 family on 101k 15 KB docs at 32 cores, BENCH §8) or 'md5'
    # (the oracle-replicable family the standalone dedup operators
    # use). Band hashes differ between families, so persisted
    # doc_dedup_state carries a scheme marker and the driver refuses a
    # cross-family resume.
    dedup_family: str = "fast"
    # the one budgeted frontier layout (streaming.delta_frontier) is
    # "delta"; kept as an accepted spelling, any other value raises
    frontier_mode: str = "delta"

    def __post_init__(self):
        if self.frontier_mode != "delta":
            raise ValueError(
                f"frontier_mode={self.frontier_mode!r}: the only frontier "
                "layout is 'delta'"
            )
