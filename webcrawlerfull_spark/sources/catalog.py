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
``overwritePartitions`` round redo, ``MERGE INTO`` upsert) behind the
``iceberg_available`` feature gate — a constructor swap when the jar
and a ``spark.sql.catalog.<name>`` are configured.

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


class Catalog:
    TABLES = ("frontier", "seen", "scheduled", "documents", "products", "lineage", "mentions", "page_stats", "seen_bloom", "doc_dedup_state", "frontier_q", "frontier_cursor")

    # ``seen`` is a DERIVED table: a round's seen slice is exactly the
    # url projection of that round's scheduled slice (the driver marks
    # before fetching, reference tasks.py:438-440), so no per-round seen
    # write happens at all — one fewer Spark job per round, which is the
    # dominant cost of a small budgeted round (VERDICT r4 item 1:
    # per-round fixed overhead is the budgeted-mode scale killer).
    # Physical seen dirs exist only as COMPACTION outputs: the slim
    # (url, round) merge of everything at-or-below the boundary. Reads
    # stitch [physical seen dirs] ∪ [scheduled dirs past the boundary,
    # projected via the fetch_round data column].

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

    def _remember(
        self, table: str, schema: StructType, partition_by: list[str] | None
    ) -> None:
        """Remember the schema written to ``table`` so its reads skip
        Spark's parquet footer-inference job (one single-task job per
        read, ~0.1 s of driver round-trip on the round's serial path).
        Partition columns live in the dir names, not in the files, so
        they are left out and discovered as an inferring read does. Once
        two writes disagree (nullability aside) the table's reads infer
        again; a fresh Catalog, as on resume, infers until it writes."""
        if partition_by:
            schema = StructType(
                [f for f in schema.fields if f.name not in partition_by]
            )
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

    def write_round(
        self,
        df: DataFrame,
        table: str,
        round_id: int,
        partition_by: list[str] | None = None,
    ) -> None:
        """``partition_by`` adds sub-partition dirs under the round dir
        (e.g. frontier_q's ``band`` — the delta-frontier read path prunes
        on it); the round-dir overwrite idempotency is unchanged."""
        if table == "scheduled" and "fetch_round" not in df.columns:
            # the derived-seen contract depends on this data column
            # (_seen_projection); a scheduled slice written for round k
            # was by definition fetched in round k, so stamp it here
            # rather than trusting every caller (ADVICE r5)
            df = df.withColumn("fetch_round", F.lit(round_id))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._dir(table, round_id))
        self._remember(table, df.schema, partition_by)

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
        # dot-prefixed tmp name: _dir_rounds only recognizes "r=" dirs,
        # so a crash between the _SUCCESS write and the swap leaves an
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
        self._remember(table, schema, None)

    def has_round(self, table: str, round_id: int) -> bool:
        d = self._dir(table, round_id)
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def read_round(self, table: str, round_id: int, schema=None) -> DataFrame:
        if table == "seen" and not self.has_round("seen", round_id):
            # derived: this round's scheduled slice, projected (the
            # parquet scan is column-pruned to url + fetch_round)
            return _seen_projection(self.read_round("scheduled", round_id))
        # a partitionBy write of an EMPTY frame leaves only _SUCCESS (no
        # part files, no footer) — schema inference fails there, so delta
        # tables that can legitimately be empty (frontier_q on a
        # discovery-free round) pass their declared schema
        return self._reader(table, schema).parquet(self._dir(table, round_id))

    def committed_rounds(self, table: str) -> list[int]:
        if table == "seen":
            phys = self._dir_rounds("seen")
            base = max(phys, default=-1)
            return sorted(
                set(phys)
                | {r for r in self._dir_rounds("scheduled") if r > base}
            )
        return self._dir_rounds(table)

    def _dir_rounds(self, table: str) -> list[int]:
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

    def read_all(self, table: str, up_to_round: int | None = None) -> DataFrame | None:
        if table == "seen":
            return self._read_seen(up_to_round)
        rounds = self.committed_rounds(table)
        if up_to_round is not None:
            rounds = [r for r in rounds if r <= up_to_round]
        if not rounds:
            return None
        paths = [self._dir(table, r) for r in rounds]
        df = (
            self._reader(table)
            .option("basePath", self._dir(table))
            .parquet(*paths)
        )
        return df.drop("r")

    def _read_seen(self, up_to_round: int | None) -> DataFrame | None:
        phys = self._dir_rounds("seen")
        if up_to_round is not None:
            phys = [r for r in phys if r <= up_to_round]
        base = max(phys, default=-1)
        sched = [
            r
            for r in self._dir_rounds("scheduled")
            if r > base and (up_to_round is None or r <= up_to_round)
        ]
        parts = []
        if phys:
            paths = [self._dir("seen", r) for r in phys]
            parts.append(
                self.spark.read.option("basePath", self._dir("seen"))
                .parquet(*paths)
                .drop("r")
            )
        if sched:
            paths = [self._dir("scheduled", r) for r in sched]
            df = (
                self._reader("scheduled")
                .option("basePath", self._dir("scheduled"))
                .parquet(*paths)
                .drop("r")
            )
            parts.append(_seen_projection(df))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_all_with_round(
        self, table: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        """Like read_all but keeps the ``r`` partition column (which round
        directory each row came from)."""
        if table == "seen":
            # committed_rounds("seen") advertises scheduled-DERIVED rounds
            # with no physical seen/r=N dir — building paths to them here
            # would raise (parquet) or silently miss rows (Iceberg).
            # No caller needs per-dir seen rows; fail loudly (ADVICE r5).
            raise NotImplementedError(
                "read_all_with_round('seen'): seen is derived from the "
                "scheduled table past the last compaction boundary — use "
                "read_all('seen') (rows carry their fetch round in the "
                "'round' data column)"
            )
        rounds = self.committed_rounds(table)
        if up_to_round is not None:
            rounds = [r for r in rounds if r <= up_to_round]
        if not rounds:
            return None
        paths = [self._dir(table, r) for r in rounds]
        return (
            self._reader(table)
            .option("basePath", self._dir(table))
            .parquet(*paths)
        )

    def read_bloom(self, up_to_round: int | None = None) -> DataFrame | None:
        """Current bloom filter state: rounds write only their TOUCHED
        buckets (S7's touched-rows-only MERGE shape — at 10^10 URLs the
        full-state rewrite per round is the first scale killer), so the
        live state is the latest row per bucket across committed rounds."""
        df = self.read_all_with_round("seen_bloom", up_to_round)
        if df is None:
            return None
        w = Window.partitionBy("bucket_id").orderBy(F.col("r").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "r")
        )

    def compact(
        self,
        table: str,
        up_to: int,
        dedup_keys: list[str] | None = None,
        transform=None,
        partition_by: list[str] | None = None,
    ) -> bool:
        """MERGE-equivalent compaction (reference upsert-union,
        storage.py:140-186 / SURVEY S7+J5): rewrite every committed round
        directory <= ``up_to`` into the single ``r=up_to`` directory,
        keep-first deduped on ``dedup_keys`` (rows keep their ``round``
        DATA column, so row-level lineage survives; directory-level
        time-travel below ``up_to`` is traded away — the Iceberg
        snapshot-expiry analogue). ``transform`` (DataFrame -> DataFrame)
        lets the caller drop dead rows during the rewrite (delta-frontier
        consumed-row reclaim); ``partition_by`` preserves sub-partition
        pruning across the rewrite. Crash-safe: the merged data lands in
        a committed .compact tmp dir first and ``__init__`` finishes any
        interrupted swap."""
        rounds = [r for r in self.committed_rounds(table) if r <= up_to]
        if len(rounds) <= 1:
            return False
        df = self.read_all(table, up_to_round=up_to)
        if dedup_keys:
            w = Window.partitionBy(*dedup_keys).orderBy(F.col("round").asc())
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        if transform is not None:
            df = transform(df)
        tmp = self._dir(table, None) + f"/.compact={up_to}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        for r in rounds:
            shutil.rmtree(self._dir(table, r), ignore_errors=True)
        os.rename(tmp, self._dir(table, up_to))
        return True

    def compact_latest(self, table: str, up_to: int, key_cols: list[str]) -> bool:
        """Compaction for latest-row-per-key delta tables (frontier_cursor;
        the bloom state is the same shape): rewrite rounds <= ``up_to``
        keeping only the NEWEST row per key — the reader's
        latest-per-key reconstruction is unchanged, just over one dir."""
        rounds = [r for r in self.committed_rounds(table) if r <= up_to]
        if len(rounds) <= 1:
            return False
        df = self.read_all_with_round(table, up_to_round=up_to)
        w = Window.partitionBy(*key_cols).orderBy(F.col("r").desc())
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "r")
        )
        tmp = self._dir(table, None) + f"/.compact={up_to}"
        df.write.mode("overwrite").parquet(tmp)
        for r in rounds:
            shutil.rmtree(self._dir(table, r), ignore_errors=True)
        os.rename(tmp, self._dir(table, up_to))
        return True

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
                for r in self.committed_rounds(table):
                    if r <= up_to:
                        shutil.rmtree(self._dir(table, r), ignore_errors=True)
                os.rename(tmp, self._dir(table, up_to))

    def max_committed_round(self) -> int | None:
        """Resume point: lineage is written last per round (commit marker)."""
        rounds = self.committed_rounds("lineage")
        return max(rounds) if rounds else None

    def drop_rounds_after(self, round_id: int) -> None:
        """Discard partial state from a crashed round (called on resume)."""
        for table in self.TABLES:
            for r in self.committed_rounds(table):
                if self._should_drop(table, r, round_id):
                    shutil.rmtree(self._dir(table, r), ignore_errors=True)

    @staticmethod
    def _should_drop(table: str, r: int, committed: int) -> bool:
        # frontier/round=k+1 is written BY round k, keep it (likewise the
        # delta-frontier queue/cursor deltas); everything else beyond the
        # committed round is partial output
        if table in ("frontier", "frontier_q", "frontier_cursor"):
            return r > committed + 1
        return r > committed

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


class IcebergCatalog:
    """The SAME catalog interface over real Iceberg tables —
    ``writeTo(...).append()`` snapshots + ``MERGE INTO`` for the S7
    upsert-union (reference: worker/src/db/storage.py:140-186).

    Feature-flagged: requires the iceberg-spark-runtime jar and a
    configured catalog (``spark.sql.catalog.<name>`` +
    ``...extensions=IcebergSparkSessionExtensions``); the jar is NOT in
    this sandbox (offline), so instantiation raises a clear error here
    and the parquet ``Catalog`` above is the documented stand-in with
    identical semantics. The code path exists so that pointing the
    engine at a real lakehouse is a constructor swap, not a rewrite:
    round-keyed idempotent redo = DELETE round partition + append;
    commit marker = the lineage append (atomic in Iceberg); compaction =
    keep-first rewrite staged through a scratch table + ONE atomic
    ``overwrite(_r <= up_to)`` snapshot (crash-safe: see
    tests/test_iceberg_gate.py::test_compact_is_staged_single_overwrite,
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

    TABLES = Catalog.TABLES

    def _sweep_compaction_scratch(self) -> None:
        """Recovery mirror of the parquet Catalog's
        _finish_pending_compactions: a crash between compact()'s scratch
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

    def write_round(
        self,
        df: DataFrame,
        table: str,
        round_id: int,
        partition_by: list[str] | None = None,
    ) -> None:
        t = self._tbl(table)
        df = df.withColumn("_r", F.lit(round_id))
        if self._exists(table):
            # idempotent round redo: replace exactly this round's rows
            # in one atomic snapshot (dynamic partition overwrite)
            df.writeTo(t).overwritePartitions()
        else:
            parts = [F.col("_r")] + [F.col(c) for c in (partition_by or [])]
            df.writeTo(t).partitionedBy(*parts).create()

    def write_round_local(
        self, rows: list[dict], table: str, round_id: int, schema
    ) -> None:
        """Interface parity with the parquet Catalog's local fast path;
        Iceberg rows must go through the table's snapshot/commit
        machinery, so this delegates to the engine writer."""
        self.write_round(
            self.spark.createDataFrame(rows, schema=schema), table, round_id
        )

    def merge_upsert(self, df: DataFrame, table: str, keys: list[str]) -> None:
        """The literal S7 MERGE shape: insert rows whose key is absent
        (reference set-union upsert, storage.py:158-162)."""
        t = self._tbl(table)
        df.createOrReplaceTempView("_updates")
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        self.spark.sql(
            f"MERGE INTO {t} t USING _updates s ON {on} "
            "WHEN NOT MATCHED THEN INSERT *"
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

    def read_round(self, table: str, round_id: int, schema=None) -> DataFrame:
        # schema is a no-op here: Iceberg tables always carry theirs
        if table == "seen" and not self.has_round("seen", round_id):
            # derived from scheduled (see parquet Catalog: the seen
            # table is only materialized by compaction)
            return _seen_projection(self.read_round("scheduled", round_id))
        return (
            self.spark.table(self._tbl(table))
            .where(F.col("_r") == round_id)
            .drop("_r")
        )

    def committed_rounds(self, table: str) -> list[int]:
        if table == "seen":
            phys = self._tbl_rounds("seen")
            base = max(phys, default=-1)
            return sorted(
                set(phys) | {r for r in self._tbl_rounds("scheduled") if r > base}
            )
        return self._tbl_rounds(table)

    def _tbl_rounds(self, table: str) -> list[int]:
        if not self._exists(table):
            return []
        return sorted(
            r["_r"]
            for r in self.spark.table(self._tbl(table))
            .select("_r")
            .distinct()
            .collect()
        )

    def read_all(self, table: str, up_to_round: int | None = None) -> DataFrame | None:
        if table == "seen":
            return self._read_seen(up_to_round)
        if not self._exists(table):
            return None
        df = self.spark.table(self._tbl(table))
        if up_to_round is not None:
            df = df.where(F.col("_r") <= up_to_round)
        return df.drop("_r")

    def _read_seen(self, up_to_round: int | None) -> DataFrame | None:
        phys = self._tbl_rounds("seen")
        if up_to_round is not None:
            phys = [r for r in phys if r <= up_to_round]
        base = max(phys, default=-1)
        parts = []
        if phys:
            parts.append(
                self.spark.table(self._tbl("seen"))
                .where(F.col("_r") <= base)
                .drop("_r")
            )
        if self._exists("scheduled"):
            sched = self.spark.table(self._tbl("scheduled")).where(
                F.col("_r") > base
            )
            if up_to_round is not None:
                sched = sched.where(F.col("_r") <= up_to_round)
            parts.append(_seen_projection(sched.drop("_r")))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_all_with_round(
        self, table: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        if table == "seen":
            # same trap as the parquet Catalog: committed_rounds("seen")
            # includes scheduled-derived rounds the physical table lacks
            raise NotImplementedError(
                "read_all_with_round('seen'): seen is derived from the "
                "scheduled table past the last compaction boundary — use "
                "read_all('seen')"
            )
        if not self._exists(table):
            return None
        df = self.spark.table(self._tbl(table)).withColumnRenamed("_r", "r")
        if up_to_round is not None:
            df = df.where(F.col("r") <= up_to_round)
        return df

    def read_bloom(self, up_to_round: int | None = None) -> DataFrame | None:
        df = self.read_all_with_round("seen_bloom", up_to_round)
        if df is None:
            return None
        w = Window.partitionBy("bucket_id").orderBy(F.col("r").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "r")
        )

    def compact(
        self,
        table: str,
        up_to: int,
        dedup_keys: list[str] | None = None,
        transform=None,
        partition_by: list[str] | None = None,
    ) -> bool:
        # partition_by is a no-op here: the Iceberg table's partition
        # spec was fixed at create() and survives the overwrite snapshot
        rounds = [r for r in self.committed_rounds(table) if r <= up_to]
        if len(rounds) <= 1:
            return False
        df = self.read_all(table, up_to_round=up_to)
        if dedup_keys:
            w = Window.partitionBy(*dedup_keys).orderBy(F.col("round").asc())
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        if transform is not None:
            df = transform(df)
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
        return True

    def compact_latest(self, table: str, up_to: int, key_cols: list[str]) -> bool:
        """Latest-row-per-key compaction (see parquet Catalog) via the
        same staged scratch-table + single atomic overwrite shape."""
        rounds = [r for r in self.committed_rounds(table) if r <= up_to]
        if len(rounds) <= 1:
            return False
        df = self.read_all_with_round(table, up_to_round=up_to)
        w = Window.partitionBy(*key_cols).orderBy(F.col("r").desc())
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "r")
        )
        scratch = self._tbl(f"tmp_compact_{table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")
        df.withColumn("_r", F.lit(up_to)).writeTo(scratch).create()
        self.spark.table(scratch).writeTo(self._tbl(table)).overwrite(
            F.col("_r") <= up_to
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")
        return True

    def max_committed_round(self) -> int | None:
        rounds = self.committed_rounds("lineage")
        return max(rounds) if rounds else None

    def drop_rounds_after(self, round_id: int) -> None:
        for table in self.TABLES:
            if not self._exists(table):
                continue
            keep = (
                round_id + 1
                if table in ("frontier", "frontier_q", "frontier_cursor")
                else round_id
            )
            self.spark.sql(
                f"DELETE FROM {self._tbl(table)} WHERE _r > {keep}"
            )

    def drop_table(self, table: str) -> None:
        if self._exists(table):
            self.spark.sql(f"DROP TABLE {self._tbl(table)}")

    def destroy(self) -> None:
        self._sweep_compaction_scratch()
        for table in self.TABLES:
            if self._exists(table):
                self.spark.sql(f"DROP TABLE {self._tbl(table)}")
