"""Round-versioned table catalog — the engine's durable state layer.

Replaces the reference's three stores (Redis sets storage.py:106-137,
Mongo upsert-union storage.py:140-186, optional JSON/CSV files
storage.py:189-225) with ONE layout: a directory per table, a
subdirectory per round:

    {base}/{table}/round={k}/*.parquet

Writes are idempotent per (table, round) — mode('overwrite') of the
round directory — so re-running a round after a crash is safe. The
LINEAGE row for round k is written LAST and acts as the commit marker:
``max_committed_round()`` is the resume point (SURVEY.md §7 step 3).

Iceberg note: the north rule calls for Iceberg tables; the
iceberg-spark-runtime jar is not available in this sandbox (no network),
so this parquet layout is the documented stand-in — same semantics
(append-only snapshots keyed by round, atomic-enough commit marker,
time-travel by round). The REAL code path exists below as
``IcebergCatalog`` (same interface: ``writeTo`` snapshots,
``overwritePartitions`` round redo, keep-first compaction as the
upsert) behind the ``iceberg_available`` feature gate — a constructor
swap when the jar and a ``spark.sql.catalog.<name>`` are configured.
Both classes inherit every rule above storage from ``RoundStore``, so
the Iceberg path's reads, derived seen table and compaction are the
code the parquet catalog runs.

Vendoring the jar was re-attempted round 5: Maven Central is
unreachable from this sandbox (HTTP 000 on
repo1.maven.org/maven2/org/apache/iceberg/iceberg-spark-runtime-*).
One-command recipe for a networked host::

    curl -LO https://repo1.maven.org/maven2/org/apache/iceberg/\
iceberg-spark-runtime-4.0_2.13/1.10.0/\
iceberg-spark-runtime-4.0_2.13-1.10.0.jar
    spark-submit --jars iceberg-spark-runtime-4.0_2.13-1.10.0.jar \
      --conf spark.sql.catalog.wcf=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.wcf.type=hadoop \
      --conf spark.sql.catalog.wcf.warehouse=/tmp/wcf_warehouse \
      submit_crawl.py --iceberg-catalog wcf ...

(tests/test_iceberg_gate.py pins the statement flow until then).
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _seen_projection(scheduled: DataFrame) -> DataFrame:
    """The seen slice a scheduled slice implies: (url, round) where
    round is the round the URL was scheduled/fetched (the ``fetch_round``
    data column the driver stamps at schedule time — the ``round`` data
    column is the frontier GENERATION, which differs for rows a
    budgeted crawl queued in an earlier round)."""
    return scheduled.select("url", F.col("fetch_round").alias("round"))


def _shape(schema: StructType):
    """A schema's JSON form without its nullability flags."""

    def strip(v):
        if isinstance(v, dict):
            return {
                k: strip(x)
                for k, x in v.items()
                if k not in ("nullable", "containsNull", "valueContainsNull")
            }
        if isinstance(v, list):
            return [strip(x) for x in v]
        return v

    return strip(schema.jsonValue())




def _first_per_key(df: DataFrame, keys: list[str], order) -> DataFrame:
    """One row per ``keys`` value: the first under ``order``."""
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


class RoundStore:
    """The catalog rules that do not depend on storage, written once for
    both backends: the derived seen table, whole-table and
    latest-per-key reads, compaction and resume cleanup. A backend
    supplies the storage primitives:

    - ``_rounds(table)``: the committed rounds of a stored table;
    - ``_scan(table, up_to_round, after)``: the rows of the rounds in
      (after, up_to_round], with their round in an ``r`` column (None
      when there is nothing to read);
    - ``_read_round(table, round_id, schema)``: one round's rows;
    - ``_write_round(df, table, round_id)``: replace one round's rows;
    - ``has_round`` and ``write_round_local``;
    - ``_swap(df, table, up_to, rounds)``: stage ``df`` and replace the
      rounds <= ``up_to`` with it as round ``up_to``, crash-safe;
    - ``_drop_after(table, keep)``: drop the rounds after ``keep``;
    - ``drop_table`` and ``destroy``."""

    TABLES = ("frontier", "seen", "scheduled", "documents", "products", "lineage", "mentions", "page_stats", "seen_bloom", "doc_dedup_state", "frontier_q", "frontier_cursor")
    # frontier/round=k+1 is written BY round k (likewise the
    # delta-frontier queue/cursor deltas), so resume keeps round
    # committed+1 of these; everything else beyond the committed round
    # is partial output
    NEXT_ROUND_TABLES = ("frontier", "frontier_q", "frontier_cursor")

    # ``seen`` is a DERIVED table: a round's seen slice is exactly the
    # url projection of that round's scheduled slice (the driver marks
    # before fetching, reference tasks.py:438-440), so no per-round seen
    # write happens at all — one fewer Spark job per round, which is the
    # dominant cost of a small budgeted round (VERDICT r4 item 1:
    # per-round fixed overhead is the budgeted-mode scale killer).
    # Physical seen rounds exist only as COMPACTION outputs: the slim
    # (url, round) merge of everything at-or-below the boundary. Reads
    # stitch [physical seen rounds] ∪ [scheduled rounds past the
    # boundary, projected via the fetch_round data column].

    def write_round(self, df: DataFrame, table: str, round_id: int) -> None:
        """Write ``df`` as round ``round_id`` of ``table``, replacing
        that round (a rerun of a round is idempotent)."""
        if table == "scheduled" and "fetch_round" not in df.columns:
            # the derived-seen contract depends on this data column
            # (_seen_projection); a scheduled slice written for round k
            # was by definition fetched in round k, so stamp it here
            # rather than trusting every caller (ADVICE r5)
            df = df.withColumn("fetch_round", F.lit(round_id))
        self._write_round(df, table, round_id)

    def read_round(self, table: str, round_id: int, schema=None) -> DataFrame:
        if table == "seen" and not self.has_round("seen", round_id):
            # derived: this round's scheduled slice, projected (the scan
            # is column-pruned to url + fetch_round)
            return _seen_projection(self.read_round("scheduled", round_id))
        return self._read_round(table, round_id, schema)

    def committed_rounds(self, table: str) -> list[int]:
        if table == "seen":
            phys = self._rounds("seen")
            base = max(phys, default=-1)
            return sorted(
                set(phys) | {r for r in self._rounds("scheduled") if r > base}
            )
        return self._rounds(table)

    def read_all(self, table: str, up_to_round: int | None = None) -> DataFrame | None:
        if table == "seen":
            return self._read_seen(up_to_round)
        df = self._scan(table, up_to_round)
        return None if df is None else df.drop("r")

    def _read_seen(self, up_to_round: int | None) -> DataFrame | None:
        phys = [
            r for r in self._rounds("seen")
            if up_to_round is None or r <= up_to_round
        ]
        sched = self._scan("scheduled", up_to_round, after=max(phys, default=-1))
        parts = []
        if phys:
            parts.append(self._scan("seen", up_to_round).drop("r"))
        if sched is not None:
            parts.append(_seen_projection(sched.drop("r")))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_all_with_round(
        self, table: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        """Like read_all but keeps the ``r`` column (which round each row
        was written in)."""
        if table == "seen":
            # committed_rounds("seen") advertises scheduled-DERIVED rounds
            # with no physical seen round — a per-round read of them
            # would raise (parquet) or silently miss rows (Iceberg).
            # No caller needs per-round seen rows; fail loudly (ADVICE r5).
            raise NotImplementedError(
                "read_all_with_round('seen'): seen is derived from the "
                "scheduled table past the last compaction boundary — use "
                "read_all('seen') (rows carry their fetch round in the "
                "'round' data column)"
            )
        return self._scan(table, up_to_round)

    def read_latest(
        self, table: str, keys: list[str], up_to_round: int | None = None
    ) -> DataFrame | None:
        """The live state of a per-round delta table: each round writes
        only the keys it changed (S7's touched-rows-only MERGE shape), so
        the state is the newest row per ``keys`` across committed
        rounds."""
        df = self.read_all_with_round(table, up_to_round)
        if df is None:
            return None
        return _first_per_key(df, keys, F.col("r").desc()).drop("r")

    def read_bloom(self, up_to_round: int | None = None) -> DataFrame | None:
        """Current bloom filter state: rounds write only their TOUCHED
        buckets (at 10^10 URLs the full-state rewrite per round is the
        first scale killer), so the live state is the latest row per
        bucket."""
        return self.read_latest("seen_bloom", ["bucket_id"], up_to_round)

    def compact(
        self,
        table: str,
        up_to: int,
        dedup_keys: list[str] | None = None,
        transform=None,
    ) -> bool:
        """MERGE-equivalent compaction (reference upsert-union,
        storage.py:140-186 / SURVEY S7+J5): rewrite every committed round
        <= ``up_to`` into the single round ``up_to``, keep-first deduped
        on ``dedup_keys`` (rows keep their ``round`` DATA column, so
        row-level lineage survives; round-level time-travel below
        ``up_to`` is traded away — the Iceberg snapshot-expiry analogue).
        ``transform`` (DataFrame -> DataFrame) lets the caller drop dead
        rows during the rewrite and keep its file layout (delta-frontier
        consumed-row reclaim, band-sorted). The backend's ``_swap`` makes
        the rewrite crash-safe."""
        rounds = [r for r in self.committed_rounds(table) if r <= up_to]
        if len(rounds) <= 1:
            return False
        df = self.read_all(table, up_to_round=up_to)
        if dedup_keys:
            df = _first_per_key(df, dedup_keys, F.col("round").asc())
        if transform is not None:
            df = transform(df)
        self._swap(df, table, up_to, rounds)
        return True

    def compact_latest(self, table: str, up_to: int, key_cols: list[str]) -> bool:
        """Compaction for latest-row-per-key delta tables (seen_bloom,
        frontier_cursor): keep only the NEWEST row per key — the
        reader's latest-per-key reconstruction is unchanged, just over
        one round. The whole-table rows carry no round to order by, so
        the transform reads the latest rows itself."""
        return self.compact(
            table, up_to,
            transform=lambda _: self.read_latest(table, key_cols, up_to),
        )

    def max_committed_round(self) -> int | None:
        """Resume point: lineage is written last per round (commit marker)."""
        rounds = self.committed_rounds("lineage")
        return max(rounds) if rounds else None

    def drop_rounds_after(self, round_id: int) -> None:
        """Discard partial state from a crashed round (called on resume)."""
        for table in self.TABLES:
            keep = round_id + 1 if table in self.NEXT_ROUND_TABLES else round_id
            self._drop_after(table, keep)


class Catalog(RoundStore):
    """Parquet round dirs: ``{base}/{table}/r={k}/*.parquet``."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        # table -> schema of the files this catalog wrote to it (None once
        # two writes disagreed); see _remember. The crawl driver writes
        # from several threads, hence the lock.
        self._schemas: dict[str, StructType | None] = {}
        self._schemas_lock = threading.Lock()
        os.makedirs(base, exist_ok=True)
        self._finish_pending_compactions()

    def _remember(self, table: str, schema: StructType) -> None:
        """Remember the schema written to ``table`` so its reads skip
        Spark's parquet footer-inference job (one single-task job per
        read, ~0.1 s of driver round-trip on the round's serial path).
        Once two writes disagree (nullability aside) the table's reads
        infer again; a fresh Catalog, as on resume, infers until it
        writes."""
        with self._schemas_lock:
            known = self._schemas.setdefault(table, schema)
            if known is not None and _shape(known) != _shape(schema):
                self._schemas[table] = None

    def _reader(self, table: str, schema: StructType | None = None):
        """spark.read with the given, else the remembered, schema."""
        if schema is None:
            schema = self._schemas.get(table)
        reader = self.spark.read
        return reader if schema is None else reader.schema(schema)

    def _dir(self, table: str, round_id: int | None = None) -> str:
        # dir key is "r=", not "round=": several tables carry a `round`
        # DATA column and Spark's partition discovery would collide
        d = os.path.join(self.base, table)
        if round_id is not None:
            d = os.path.join(d, f"r={round_id}")
        return d

    def _write_round(self, df: DataFrame, table: str, round_id: int) -> None:
        """The files of one round dir, replacing it. The dir has no
        subdirectories: a layout a reader relies on (frontier_q's
        band-sorted files) is the caller's partitioning and sort of
        ``df``."""
        df.write.mode("overwrite").parquet(self._dir(table, round_id))
        self._remember(table, df.schema)

    def write_round_local(
        self, rows: list[dict], table: str, round_id: int, schema
    ) -> None:
        """Driver-local fast path for TINY control rows (the per-round
        lineage commit marker — one row): write the parquet part file +
        _SUCCESS directly with pyarrow instead of scheduling a Spark job
        (~0.3-0.5 s of fixed per-round cost for one row, measured r7).
        Produces the same dir layout the Spark writer does, so every
        reader (read_round / read_all / has_round) is unchanged. Same
        idempotent overwrite semantics as write_round: the dir is staged
        in a scratch dir, the old round dir removed, and the scratch
        renamed into place.

        The removal and the rename are two steps, and a crash between
        them leaves neither dir. That is safe for the one caller: the
        driver writes the lineage marker of round k only while k is
        uncommitted — crawl() resumes at max committed round + 1 and
        each later round id is fresh — so the removed dir holds no
        _SUCCESS (at most a crashed attempt's leftovers), and a crash in
        the window leaves round k uncommitted, as it was before the
        call; resume drops its partial state and reruns it. Overwriting
        a committed round this way would not be atomic."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA_TYPES = {
            "string": pa.string(),
            "int": pa.int32(),
            "bigint": pa.int64(),
            "double": pa.float64(),
            "float": pa.float32(),
            "boolean": pa.bool_(),
        }
        pa_schema = pa.schema(
            [
                pa.field(f.name, _PA_TYPES[f.dataType.simpleString()])
                for f in schema.fields
            ]
        )
        cols = {f.name: [r.get(f.name) for r in rows] for f in schema.fields}
        d = self._dir(table, round_id)
        # dot-prefixed tmp name: _rounds only recognizes "r=" dirs, so a
        # crash between the _SUCCESS write and the swap leaves an
        # ignored scratch dir (NOT a half-round that int() would choke
        # on), overwritten by the next attempt
        tmp = os.path.join(self._dir(table), f".local={round_id}.inprogress")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pydict(cols, schema=pa_schema),
            os.path.join(tmp, "part-00000-local.snappy.parquet"),
            compression="snappy",
        )
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        self._remember(table, schema)

    def has_round(self, table: str, round_id: int) -> bool:
        d = self._dir(table, round_id)
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def _read_round(self, table: str, round_id: int, schema) -> DataFrame:
        # delta tables that can legitimately be empty (frontier_q on a
        # discovery-free round) pass their declared schema, so the read
        # never depends on what an empty write left behind
        return self._reader(table, schema).parquet(self._dir(table, round_id))

    def _rounds(self, table: str) -> list[int]:
        d = self._dir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("r=") and os.path.exists(
                os.path.join(d, name, "_SUCCESS")
            ):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def _scan(
        self, table: str, up_to_round: int | None = None, after: int = -1
    ) -> DataFrame | None:
        rounds = [
            r for r in self._rounds(table)
            if r > after and (up_to_round is None or r <= up_to_round)
        ]
        if not rounds:
            return None
        paths = [self._dir(table, r) for r in rounds]
        return (
            self._reader(table)
            .option("basePath", self._dir(table))
            .parquet(*paths)
        )

    def _swap(self, df: DataFrame, table: str, up_to: int, rounds: list[int]) -> None:
        """The merged data lands in a committed .compact tmp dir first
        and ``__init__`` finishes any interrupted swap."""
        tmp = self._dir(table) + f"/.compact={up_to}"
        df.write.mode("overwrite").parquet(tmp)
        for r in rounds:
            shutil.rmtree(self._dir(table, r), ignore_errors=True)
        os.rename(tmp, self._dir(table, up_to))

    def _finish_pending_compactions(self) -> None:
        """Recovery for a crash between the round-dir removals and the
        tmp rename: a committed .compact dir is authoritative."""
        for table in self.TABLES:
            d = self._dir(table)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                if not name.startswith(".compact="):
                    continue
                tmp = os.path.join(d, name)
                if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
                    shutil.rmtree(tmp, ignore_errors=True)
                    continue
                up_to = int(name.split("=", 1)[1])
                for r in self._rounds(table):
                    if r <= up_to:
                        shutil.rmtree(self._dir(table, r), ignore_errors=True)
                os.rename(tmp, self._dir(table, up_to))

    def _drop_after(self, table: str, keep: int) -> None:
        for r in self._rounds(table):
            if r > keep:
                shutil.rmtree(self._dir(table, r), ignore_errors=True)

    def drop_table(self, table: str) -> None:
        """Remove EVERY round of one table (used when persisted state is
        unusable as-is, e.g. bloom filters written by an older hash
        scheme, and must be rebuilt from a source-of-truth table)."""
        shutil.rmtree(self._dir(table), ignore_errors=True)
        self._schemas.pop(table, None)

    def destroy(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        self._schemas.clear()


def iceberg_available(spark: SparkSession, catalog_name: str = "local") -> bool:
    """True iff a Spark catalog named ``catalog_name`` is configured
    (``spark.sql.catalog.<name>`` — how the Iceberg runtime is wired)."""
    try:
        spark.conf.get(f"spark.sql.catalog.{catalog_name}")
        return True
    except Exception:
        return False




class IcebergCatalog(RoundStore):
    """The SAME catalog over real Iceberg tables: ``writeTo`` snapshots,
    with the S7 upsert-union (reference: worker/src/db/storage.py:140-186)
    done by the shared keep-first compaction.

    Feature-flagged: requires the iceberg-spark-runtime jar and a
    configured catalog (``spark.sql.catalog.<name>`` +
    ``...extensions=IcebergSparkSessionExtensions``); the jar is NOT in
    this sandbox (offline), so instantiation raises a clear error here
    and the parquet ``Catalog`` above is the documented stand-in with
    identical semantics. The code path exists so that pointing the
    engine at a real lakehouse is a constructor swap, not a rewrite:
    every rule above storage is ``RoundStore``'s, shared with
    ``Catalog``; this class supplies the storage primitives.
    Round-keyed idempotent redo = dynamic overwrite of the round's
    ``_r`` partition; commit marker = the lineage write (atomic in
    Iceberg); compaction = the merged rows staged through a scratch
    table + ONE atomic ``overwrite(_r <= up_to)`` snapshot (crash-safe:
    see tests/test_iceberg_gate.py::test_compact_is_staged_single_overwrite,
    which pins the statement order); time-travel by round = the ``_r``
    partition column, or Iceberg's own snapshot history.

    One-command wiring on a machine with network (public artifact)::

        spark-submit \\
          --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
          --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \\
          --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.local.type=hadoop \\
          --conf spark.sql.catalog.local.warehouse=/path/to/warehouse \\
          your_job.py

    (match the runtime artifact to your Spark/Scala version); then
    ``IcebergCatalog(spark)`` replaces ``Catalog(spark, base)`` with no
    other change — the driver surface is signature-identical
    (tests/test_iceberg_gate.py::test_interface_parity).
    """

    def __init__(
        self,
        spark: SparkSession,
        namespace: str = "crawl",
        catalog_name: str = "local",
    ):
        if not iceberg_available(spark, catalog_name):
            raise RuntimeError(
                f"Iceberg catalog '{catalog_name}' is not configured "
                f"(spark.sql.catalog.{catalog_name} unset — the "
                "iceberg-spark-runtime jar is unavailable in this sandbox). "
                "Use sources.catalog.Catalog (parquet round-dir layout, "
                "same semantics), or configure the catalog per "
                "https://iceberg.apache.org/docs/latest/spark-configuration/"
            )
        self.spark = spark
        self.catalog_name = catalog_name
        self.namespace = namespace
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog_name}.{namespace}"
        )
        self._sweep_compaction_scratch()

    def _sweep_compaction_scratch(self) -> None:
        """Recovery mirror of the parquet Catalog's
        _finish_pending_compactions: a crash between _swap's scratch
        create() and its final DROP leaks a tmp_compact_<table> table
        that no other path cleans up (it is not in TABLES). The scratch
        is only ever an uncommitted intermediate — the target table is
        untouched until the single atomic overwrite — so dropping it on
        open (and on destroy) is always safe."""
        for table in self.TABLES:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._tbl(f'tmp_compact_{table}')}"
            )

    def _tbl(self, table: str) -> str:
        return f"{self.catalog_name}.{self.namespace}.{table}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(table))

    def _write_round(self, df: DataFrame, table: str, round_id: int) -> None:
        t = self._tbl(table)
        df = df.withColumn("_r", F.lit(round_id))
        if self._exists(table):
            # idempotent round redo: replace exactly this round's rows
            # in one atomic snapshot (dynamic partition overwrite)
            df.writeTo(t).overwritePartitions()
        else:
            df.writeTo(t).partitionedBy(F.col("_r")).create()

    def write_round_local(
        self, rows: list[dict], table: str, round_id: int, schema
    ) -> None:
        """Interface parity with the parquet Catalog's local fast path;
        Iceberg rows must go through the table's snapshot/commit
        machinery, so this delegates to the engine writer."""
        self.write_round(
            self.spark.createDataFrame(rows, schema=schema), table, round_id
        )

    def has_round(self, table: str, round_id: int) -> bool:
        if not self._exists(table):
            return False
        return (
            self.spark.table(self._tbl(table))
            .where(F.col("_r") == round_id)
            .limit(1)
            .count()
            > 0
        )

    def _read_round(self, table: str, round_id: int, schema) -> DataFrame:
        # schema is a no-op here: Iceberg tables always carry theirs
        return (
            self.spark.table(self._tbl(table))
            .where(F.col("_r") == round_id)
            .drop("_r")
        )

    def _rounds(self, table: str) -> list[int]:
        if not self._exists(table):
            return []
        return sorted(
            r["_r"]
            for r in self.spark.table(self._tbl(table))
            .select("_r")
            .distinct()
            .collect()
        )

    def _scan(
        self, table: str, up_to_round: int | None = None, after: int = -1
    ) -> DataFrame | None:
        if not self._exists(table):
            return None
        df = (
            self.spark.table(self._tbl(table))
            .withColumnRenamed("_r", "r")
            .where(F.col("r") > after)
        )
        if up_to_round is not None:
            df = df.where(F.col("r") <= up_to_round)
        return df

    def _swap(self, df: DataFrame, table: str, up_to: int, rounds: list[int]) -> None:
        # Crash-safe two-step mirroring the parquet Catalog's .compact
        # marker: (1) stage the merged rows in a scratch table — a crash
        # here leaves the target untouched (the scratch is dropped and
        # re-created on retry); (2) ONE atomic overwrite snapshot that
        # deletes every row with _r <= up_to and inserts the merged rows
        # in the same commit — never the overwrite-then-DELETE pair,
        # whose mid-crash leaves pre-up_to rounds double-counted.
        # Staging also avoids reading the target inside its own
        # overwrite, which some Spark/Iceberg combinations reject.
        scratch = self._tbl(f"tmp_compact_{table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")
        df.withColumn("_r", F.lit(up_to)).writeTo(scratch).create()
        if self._exists(table):
            self.spark.table(scratch).writeTo(self._tbl(table)).overwrite(
                F.col("_r") <= up_to
            )
        else:
            # first materialization of a derived table (seen): nothing
            # to overwrite — create it from the staged rows
            self.spark.table(scratch).writeTo(self._tbl(table)).partitionedBy(
                F.col("_r")
            ).create()
        self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")

    def _drop_after(self, table: str, keep: int) -> None:
        if self._exists(table):
            self.spark.sql(f"DELETE FROM {self._tbl(table)} WHERE _r > {keep}")

    def drop_table(self, table: str) -> None:
        if self._exists(table):
            self.spark.sql(f"DROP TABLE {self._tbl(table)}")

    def destroy(self) -> None:
        self._sweep_compaction_scratch()
        for table in self.TABLES:
            self.drop_table(table)
