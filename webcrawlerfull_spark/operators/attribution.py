"""J7 — first-found parser attribution.

Reference: ``url_first_found_by.setdefault(url, parser)`` insert-if-absent
(/root/reference/worker/src/tasks.py:483-485,624-626), in processing
order: rounds ascending, pages in frontier order within a round
(queue_pos), parsers in cascade order within a page (parser_rank; the
sequential generator runs after the cascade, rank 3).

Shape (r7): ``groupBy(keys).agg(min(struct(order_cols, payload)))``
with MAP-SIDE partial aggregation, so the exchange carries at most one
row per (key, map task). min over a struct compiles to SortAggregate,
so a map-side sort remains — the win over the former
``row_number() == 1`` window is the removed Window/row_number/Filter
machinery on both sides of the exchange (plan evidence:
plans/r07/j7_first_touch_{before,after}.txt). Equivalent output because
every engine call site has order keys that are UNIQUE within a
partition key (page rank × parser rank within a domain; (orderkey,
linenumber) in the gate query) — on a genuine tie min(struct) falls
back to comparing the payload columns, where row_number picked an
arbitrary row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webcrawlerfull_spark.config import MAX_DEPTH


def first_touch_products(mentions: DataFrame, max_depth: int) -> DataFrame:
    """The crawl products chain's specialization of ``first_touch``
    (partition (domain, url), order (queue_pos, parser_rank)) that
    compiles to a codegen'd HashAggregate instead of the SortAggregate
    that min-over-struct forces (r7, guide §2.3 — the map-side sort of
    every mention partition was the products stage's dominant cost).

    Returns (domain, url, parser, depth) of each (domain, url)'s first
    mention. Raises ValueError when ``max_depth`` exceeds
    ``config.MAX_DEPTH`` (``CrawlConfig`` refuses such a depth up front)
    or the cascade has more than four parsers (parser_rank gets 2 bits;
    a fifth rank would silently alias).

    Precondition: (domain, url, queue_pos) is unique in ``mentions``,
    i.e. queue_pos is dense per domain, one value per fetched page, as
    the driver writes it (a row_number over each domain's fetch order:
    the per-domain rank of the next frontier in operators/frontier.py,
    re-derived on the budgeted slice by
    streaming/delta_frontier.schedule_slice). Within one page a product
    url appears in at most ONE parser array (config_only/ai_only/seq_arr
    are disjoint from the earlier ranks by construction, and each array
    is distinct), so the precondition holds for every driver call —
    min over a packed bigint with
    queue_pos in the high bits then picks exactly the row the
    lexicographic (queue_pos, parser_rank) struct-min picked, and the
    winning row's parser_rank and depth ride in the low bits as payload
    (depth <= max_depth and parser_rank < 4 bound the fields; queue_pos
    is a within-round row position, far below the remaining 2^45+).
    Nothing here checks the precondition: a caller whose queue_pos
    repeats within a domain (e.g. one derived per host over a
    multi-host domain) gets ties on (queue_pos, parser_rank) broken by
    the smallest depth, where the generic ``first_touch`` breaks them
    by its payload column order (page_url, host, depth, ...), so the
    two can pick different rows."""
    from webcrawlerfull_spark.operators.cascade import PARSER_RANK

    if max_depth > MAX_DEPTH or len(PARSER_RANK) > 4:
        raise ValueError(
            f"max_depth={max_depth} (at most {MAX_DEPTH}) with "
            f"{len(PARSER_RANK)} parsers (at most 4) does not fit the "
            "packed first-touch key"
        )
    depth_bits = max(4, int(max_depth).bit_length() + 1)
    shift_rank = depth_bits
    shift_pos = depth_bits + 2
    packed = (
        F.col("queue_pos") * F.lit(1 << shift_pos)
        + F.col("parser_rank").cast("long") * F.lit(1 << shift_rank)
        + F.col("depth").cast("long")
    )
    winners = mentions.groupBy("domain", "url").agg(
        F.min(packed).alias("_p")
    )
    rank = F.shiftright(F.col("_p"), shift_rank).bitwiseAND(F.lit(3))
    parser = F.lit(None).cast("string")
    for name, r in PARSER_RANK.items():
        parser = F.when(rank == F.lit(r), F.lit(name)).otherwise(parser)
    depth = F.col("_p").bitwiseAND(F.lit((1 << depth_bits) - 1)).cast("int")
    return winners.select(
        "domain", "url", parser.alias("parser"), depth.alias("depth")
    )


def first_touch(
    mentions: DataFrame,
    order_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the first mention of each (partition key) in canonical
    processing order. ``mentions`` needs the partition cols (default
    ``["domain", "url"]`` — the reference's per-domain dict), (parser),
    and the order columns. Order keys must be unique per partition key
    for a deterministic result (all engine call sites are)."""
    order_cols = order_cols or ["round", "queue_pos", "parser_rank"]
    partition_cols = partition_cols or ["domain", "url"]
    payload = [c for c in mentions.columns if c not in partition_cols]
    packed = order_cols + [c for c in payload if c not in order_cols]
    agg = mentions.groupBy(*partition_cols).agg(
        F.min(F.struct(*packed)).alias("_first")
    )
    return agg.select(
        *[
            F.col(c) if c in partition_cols else F.col(f"_first.{c}").alias(c)
            for c in mentions.columns
        ]
    )
