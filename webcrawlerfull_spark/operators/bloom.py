"""Partitioned bloom URL-seen filter (SURVEY.md §4 custom work #1).

The reference keeps ``visited_urls`` as ONE process-resident Python set
(/root/reference/worker/src/tasks.py:400) — the precise thing that
cannot scale to a 10^10-URL frontier. Here the seen-state is B bloom
buckets, each a byte blob row ``(bucket_id, filter_bytes)``:

- bucket routing: ``pmod(xxhash64(url), B)`` — Spark-native, so
  candidates co-partition with their bucket by one hash shuffle
- build/update: cogrouped ``applyInPandas`` — per bucket, OR the new
  URLs' bits into the previous blob (Arrow-batched, no per-row Python
  rows crossing the JVM boundary)
- probe: cogrouped ``applyInArrow`` over (candidates, filters) — emits
  every candidate row with ``maybe_seen`` appended, NO false negatives
- exact anti-join ONLY on bloom-positives: at scale the giant
  ``frontier LEFT ANTI JOIN seen`` shrinks to the tiny
  true-seen + false-positive slice (fpp-bounded)

In-bucket hashing is double hashing over two independent 64-bit values
computed JVM-SIDE (``xxhash64(url, seed)`` with two seeds, whole-stage
codegen) and shipped to the kernel as int64 columns — the Python side is
pure numpy array arithmetic over the whole Arrow batch: build the (n, k)
probe-position matrix in one shot, then a single scatter
(``bitwise_or.at``) or gather (fancy-index + all(axis=1)). No per-URL
Python loop, no Python-side hashing. Probe-position arithmetic wraps mod
2^64 (uint64), which is a valid double-hash family as long as set and
test share it — both derive from ``_positions``.

Equivalence with the exact path is pytest-verified on the small world;
no-false-negative is property-tested.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# In-bucket hash-family version stamped into every persisted filter row
# (see scheme()). Probing filter bytes with a DIFFERENT hash family than
# the one that set them yields silent false negatives (seen URLs pass
# the gate and the exact anti-join's pruning assumption breaks ->
# re-fetches on resume). Bump this string whenever _positions/_SEED_* /
# _params change shape; the driver rebuilds stale state on mismatch.
HASH_SCHEME = "xxh64-dh-v2"
FPP = 0.01  # target false-positive rate; sizes m and k in _params

FILTERS_SCHEMA = StructType(
    [
        StructField("bucket_id", IntegerType()),
        StructField("filter_bytes", BinaryType()),
        StructField("scheme", StringType()),
    ]
)


def scheme(buckets: int, capacity: int) -> str:
    """A filter row's stamp: the hash family plus the geometry (bucket
    routing, ``m``, ``k``) that decides which bits a URL sets — filters
    of any other geometry give false negatives too."""
    m, k = _params(capacity)
    return f"{HASH_SCHEME}/b={buckets}/m={m}/k={k}"


def scheme_ok(filters: DataFrame, buckets: int, capacity: int) -> bool:
    """True iff every persisted filter row was written by the CURRENT
    in-bucket hash family under this run's geometry. Legacy state (no
    ``scheme`` column — written before versioning existed), a foreign
    scheme string and another bucket count or capacity all fail, which
    routes the caller to the rebuild-from-exact-seen path."""
    if "scheme" not in filters.columns:
        return False
    bad = filters.where(
        F.col("scheme").isNull()
        | (F.col("scheme") != scheme(buckets, capacity))
    ).limit(1)
    return len(bad.take(1)) == 0

# xxhash64 seeds for the two independent in-bucket hash streams (any two
# distinct constants work; 0 is reserved for the bucket-routing hash)
_SEED_H1 = 0x51ED
_SEED_H2 = 0xB100


def _params(capacity: int) -> tuple[int, int]:
    """(m bits, k hashes) for a target capacity at rate ``FPP``."""
    m = max(64, int(math.ceil(-capacity * math.log(FPP) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / capacity * math.log(2)))
    return m, k


def bucket_col(url_col, buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(buckets)).cast("int")


def _hash_cols(url_col: str, buckets: int, names=("bucket_id", "h1", "h2")):
    """bucket id + the two in-bucket hash streams of ``url_col``, all
    JVM-side, named ``names``."""
    u = F.col(url_col)
    bucket, h1, h2 = names
    return [
        bucket_col(u, buckets).alias(bucket),
        F.xxhash64(u, F.lit(_SEED_H1)).alias(h1),
        F.xxhash64(u, F.lit(_SEED_H2)).bitwiseOR(F.lit(1)).alias(h2),
    ]


def _positions(h1, h2, m: int, k: int) -> np.ndarray:
    """(n, k) uint64 probe positions: (h1 + i*h2) mod 2^64 mod m.
    Shared by set and test so wrap semantics can never diverge."""
    a = np.asarray(h1, dtype=np.int64).astype(np.uint64)
    b = np.asarray(h2, dtype=np.int64).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return (a[:, None] + i[None, :] * b[:, None]) % np.uint64(m)


def _set_bits(bits: np.ndarray, h1, h2, m: int, k: int) -> None:
    pos = _positions(h1, h2, m, k)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
    masks = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)).ravel()
    np.bitwise_or.at(bits, byte_idx, masks)  # unbuffered: dup indices OK


def _test_bits(bits: np.ndarray, h1, h2, m: int, k: int) -> np.ndarray:
    pos = _positions(h1, h2, m, k)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = (pos & np.uint64(7)).astype(np.uint8)
    return (((bits[byte_idx] >> bit) & 1) == 1).all(axis=1)


def update_filters(
    new_urls: DataFrame,
    old_filters: DataFrame | None,
    buckets: int,
    capacity: int = 1_000_000,
    url_col: str = "url",
) -> DataFrame:
    """Merge newly-seen URLs into the bucketized filter state. Returns
    the updated bucket rows only: the MERGE-style delta a round persists
    (the reader reconstructs the live state as latest-row-per-bucket, so
    a round that touches 5 of 64 buckets writes 5 rows, not the whole
    state). With ``old_filters=None`` those rows are the whole state of
    ``new_urls``."""
    m, k = _params(capacity)
    stamp = scheme(buckets, capacity)
    spark = new_urls.sparkSession
    new_b = new_urls.select(
        F.col(url_col).alias("url"), *_hash_cols(url_col, buckets)
    )
    if old_filters is None:
        old_filters = spark.createDataFrame([], schema=FILTERS_SCHEMA)
    elif "scheme" not in old_filters.columns:
        raise ValueError(
            "old_filters predates hash-scheme versioning — its bytes were "
            "set by an unknown hash family and cannot be merged into; "
            "rebuild from the exact seen table (see streaming.driver)"
        )

    def merge(key, urls_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(urls_pdf):
            # filter-only bucket: not touched this round, no delta row
            return pd.DataFrame(
                {
                    "bucket_id": pd.Series([], dtype="int32"),
                    "filter_bytes": pd.Series([], dtype=object),
                    "scheme": pd.Series([], dtype=object),
                }
            )
        bucket_id = int(key[0])
        if len(filt_pdf):
            bits = np.frombuffer(filt_pdf["filter_bytes"].iloc[0], dtype=np.uint8).copy()
        else:
            bits = np.zeros(m // 8, dtype=np.uint8)
        _set_bits(bits, urls_pdf["h1"], urls_pdf["h2"], m, k)
        return pd.DataFrame(
            {
                "bucket_id": [bucket_id],
                "filter_bytes": [bits.tobytes()],
                "scheme": [stamp],
            }
        )

    return (
        new_b.groupBy("bucket_id")
        .cogroup(old_filters.groupBy("bucket_id"))
        .applyInPandas(merge, schema=FILTERS_SCHEMA)
    )


# probe's helper columns on the candidate rows (private names, so they
# cannot collide with a candidate column)
_PROBE_COLS = ("_bloom_bucket", "_bloom_h1", "_bloom_h2")


def probe(
    candidates: DataFrame,
    filters: DataFrame,
    buckets: int,
    capacity: int = 1_000_000,
    url_col: str = "url",
) -> DataFrame:
    """Every candidate row with a ``maybe_seen`` flag appended — no false
    negatives. The rows themselves ride the cogroup (Arrow in, Arrow out,
    so every column keeps its type and NULLs), which keeps ``candidates``
    referenced once in the plan: no url-only projection joined back."""
    import pyarrow as pa

    m, k = _params(capacity)
    bucket, h1, h2 = _PROBE_COLS
    cand = candidates.select("*", *_hash_cols(url_col, buckets, _PROBE_COLS))
    schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )

    def run(cand_t: pa.Table, filt_t: pa.Table) -> pa.Table:
        if filt_t.num_rows:
            bits = np.frombuffer(filt_t.column("filter_bytes")[0].as_py(), dtype=np.uint8)
            flags = _test_bits(
                bits, cand_t.column(h1).to_numpy(), cand_t.column(h2).to_numpy(), m, k
            )
        else:
            flags = np.zeros(cand_t.num_rows, dtype=bool)
        return cand_t.drop_columns(list(_PROBE_COLS)).append_column(
            "maybe_seen", pa.array(flags, type=pa.bool_())
        )

    return (
        cand.groupBy(bucket)
        .cogroup(filters.groupBy("bucket_id"))
        .applyInArrow(run, schema=schema)
    )


def seen_anti_join(
    candidates: DataFrame,
    seen_exact: DataFrame,
    filters: DataFrame | None,
    buckets: int,
    capacity: int = 1_000_000,
    url_col: str = "url",
) -> DataFrame:
    """J1 at scale: definite-new URLs skip the exact join entirely; only
    bloom-positives (true seen + ~fpp false positives) hit seen_exact."""
    if filters is None:
        return candidates.join(
            seen_exact.select(F.col("url").alias(url_col)), url_col, "left_anti"
        )
    # both branches read the one probe output; its input exchange is
    # shared between them (exchange reuse), so the candidate source is
    # computed once
    flagged = probe(candidates, filters, buckets, capacity, url_col=url_col)
    definite_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
    verified_new = suspects.join(
        seen_exact.select(F.col("url").alias(url_col)), url_col, "left_anti"
    )
    # the exact path's column order (a using-join puts the key first)
    return definite_new.unionByName(verified_new).select(
        url_col, *[c for c in candidates.columns if c != url_col]
    )
