"""Table storage with Greenplum distribution semantics on Parquet.

Reference model (SURVEY.md §1.1):
- ``gp_distribution_policy`` (src/include/catalog/gp_policy.h:31-39):
  every table is hash-DISTRIBUTED BY key columns, DISTRIBUTED RANDOMLY,
  or DISTRIBUTED REPLICATED.
- hash placement: cdbhash (src/backend/cdb/cdbhash.c:76,191).
- range/list PARTITION BY (parse_partition.c, cdbpartition.c).
- AO/AOCS compressed columnar storage (aocsam.c, pg_compression.c).

Spark-first mapping implemented here:
- DISTRIBUTED BY (k)   -> repartition(n, k) on write + bucketBy when a
  saveAsTable catalog is available: co-locates joins/aggs on k exactly
  like segment-local joins in the reference.
- DISTRIBUTED RANDOMLY -> round-robin repartition(n).
- DISTRIBUTED REPLICATED -> small table + broadcast() on read: every
  "segment" (executor) sees the full table, like replicated storage.
- PARTITION BY (range/list cols) -> parquet partitionBy directory layout,
  giving static + dynamic partition pruning (the reference's
  PartitionSelector, nodeDynamicSeqscan.c).
- appendonly/compresstype -> parquet + codec (zstd/snappy/gzip).
- gp_segment_id -> spark_partition_id() at read time.
- UPDATE/DELETE on immutable parquet -> copy-on-write rewrite (the
  batch-engine equivalent of nodeModifyTable.c's DML; SplitUpdate's
  "delete+insert with redistribution" is exactly rewrite+repartition).
- pg_attribute -> a known read schema per table. Like the reference's
  executor, which takes a relation's tuple descriptor from the catalog
  and never re-derives it from the data files, every scan of a table's
  own files goes through ``GpTable._scan`` with that schema supplied.
  Without it, each ``spark.read.parquet`` call runs a footer-reading
  schema-inference Spark job. The rule:
  * a write of a non-partitioned table records the written frame's
    schema made nullable, which is exactly what footer inference returns
    for those files (Spark stores its schema in every footer and reads
    all file columns back as nullable);
  * an append keeps the known schema only when the batch's schema
    agrees with it;
  * every write of a partitioned table, and every partition DDL
    (``exchange_partition``, ``split_partition``, ``drop_partition``),
    leaves the table cold: partition column types are re-inferred from
    the directory names, so the set of values decides them;
  * a cold table (for example a ``GpTable`` built over an existing
    directory) infers the schema on its next scan, once.
  Outside the partition DDL, ``_write`` and ``_swap_in`` (used by
  ``_rewrite``, ``truncate``, ``cluster_by`` and ``vacuum``) are the
  only places that write table files, and both update the known schema.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable —
    the schema a file source reads back (Spark's ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


@dataclass
class DistributionPolicy:
    """gp_policy.h: 'p' = hash-partitioned (distkey), 'r' = replicated."""

    policytype: str = "p"  # 'p' (hash/random) | 'r' (replicated)
    distkey: tuple[str, ...] = ()  # empty + 'p' -> DISTRIBUTED RANDOMLY

    @property
    def is_replicated(self) -> bool:
        return self.policytype == "r"


@dataclass
class RowTrigger:
    """BEFORE ... FOR EACH ROW trigger (nodeRowTrigger.c:450), expressed
    declaratively so it stays a JVM column projection (codegen) instead of
    a per-row procedure call:

    - ``assignments``: NEW.col := expr rewrites (BEFORE INSERT/UPDATE
      body mutating NEW);
    - ``skip_when``: rows where this predicate holds are skipped — the
      trigger-returns-NULL convention (INSERT drops the row, UPDATE
      keeps OLD, DELETE keeps the row);
    - ``when``: the trigger's WHEN clause — assignments apply only where
      it holds (default: all rows).
    """

    event: str  # 'insert' | 'update' | 'delete'
    assignments: dict[str, Column] = field(default_factory=dict)
    skip_when: Column | None = None
    when: Column | None = None


@dataclass
class GpTable:
    """A parquet-backed table with distribution + partition metadata."""

    path: str
    policy: DistributionPolicy = field(default_factory=DistributionPolicy)
    partition_by: tuple[str, ...] = ()
    compression: str = "snappy"
    num_buckets: int = 32
    sort_by: tuple[str, ...] = ()
    row_triggers: list = field(default_factory=list)
    # known read schema of the table's files; None = cold (see module doc)
    _schema: StructType | None = field(
        default=None, init=False, repr=False, compare=False)

    def add_row_trigger(self, trigger: "RowTrigger") -> None:
        """CREATE TRIGGER ... BEFORE event FOR EACH ROW."""
        if trigger.event not in ("insert", "update", "delete"):
            raise ValueError(f"bad trigger event {trigger.event!r}")
        self.row_triggers.append(trigger)

    def _triggers(self, event: str) -> list:
        return [t for t in self.row_triggers if t.event == event]

    @staticmethod
    def _trigger_project(df: DataFrame, trig: "RowTrigger") -> DataFrame:
        """Apply a trigger's NEW-row assignments (gated on WHEN)."""
        gate = trig.when if trig.when is not None else F.lit(True)
        return df.select(
            *[
                F.when(gate, trig.assignments[c]).otherwise(F.col(c)).alias(c)
                if c in trig.assignments
                else F.col(c)
                for c in df.columns
            ]
        )

    # -- DDL -----------------------------------------------------------------

    @classmethod
    def create(
        cls,
        df: DataFrame,
        path: str,
        distributed_by: tuple[str, ...] | list[str] | None = None,
        replicated: bool = False,
        partition_by: tuple[str, ...] | list[str] = (),
        compression: str = "snappy",
        num_buckets: int = 32,
        sort_by: tuple[str, ...] | list[str] = (),
        mode: str = "error",
    ) -> "GpTable":
        """CREATE TABLE ... [DISTRIBUTED BY (...) | REPLICATED]
        [PARTITION BY (...)] WITH (compresstype=...).

        ``sort_by`` = clustered storage: rows are sorted inside each
        bucket before writing, so parquet row-group min/max statistics
        become tight, disjoint ranges and selective scans skip row groups
        — the IndexScan/btree-clustered analog (SURVEY.md §2.1: covered
        by file pruning, this is the layout that makes it effective)."""
        policy = DistributionPolicy(
            policytype="r" if replicated else "p",
            distkey=tuple(distributed_by or ()),
        )
        table = cls(
            path=path,
            policy=policy,
            partition_by=tuple(partition_by),
            compression=compression,
            num_buckets=num_buckets,
            sort_by=tuple(sort_by),
        )
        table._write(df, mode=mode)
        return table

    def _placed(self, df: DataFrame) -> DataFrame:
        """Apply the distribution policy before writing (the Motion that
        COPY/INSERT performs to route rows to their owning segment)."""
        if self.policy.is_replicated:
            return df.coalesce(1)
        if self.policy.distkey:
            return df.repartition(self.num_buckets, *self.policy.distkey)
        return df.repartition(self.num_buckets)

    def _stored(self, schema: StructType, replaced: bool) -> None:
        """Keep the known read schema in step with files just written
        (``replaced``: they are now the whole table; else appended)."""
        new = None if self.partition_by else _nullable(schema)
        if not replaced and new != self._schema:
            new = None
        self._schema = new

    def _write(self, df: DataFrame, mode: str) -> None:
        self._last_schema = df.schema  # read() fallback for empty tables
        placed = self._placed(df)
        if self.sort_by:
            placed = placed.sortWithinPartitions(*self.sort_by)
        writer = (
            placed
            .write.mode(mode)
            .option("compression", self.compression)
        )
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.path)
        # "ignore" may write nothing: treat it like an append
        self._stored(df.schema, replaced=mode not in ("append", "ignore"))

    # -- read path -----------------------------------------------------------

    def _has_parquet_files(self) -> bool:
        """True if any .parquet data file exists under the table path
        (including partition subdirectories)."""
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _scan(self, spark: SparkSession) -> DataFrame:
        """The one scan of this table's files: with the known schema
        supplied (no inference job), or inferring it once when cold."""
        if self._schema is not None:
            return spark.read.schema(self._schema).parquet(self.path)
        df = spark.read.parquet(self.path)
        self._schema = df.schema
        return df

    def schema(self, spark: SparkSession) -> StructType:
        """The table's read schema, without building a scan when known."""
        if self._schema is not None:
            return self._schema
        return self.read(spark).schema

    def read(self, spark: SparkSession) -> DataFrame:
        """Scan; REPLICATED tables come back broadcast-hinted so every join
        against them is a broadcast join (no fact-side shuffle).

        The scan supplies the table's known schema, so it runs no
        schema-inference job; writes keep that schema current and
        partitioned writes or partition DDL make the table infer it again
        on its next scan (module docstring).

        A truncated PARTITIONED table has no files at all (an empty
        partitionBy write emits no schema-bearing part file — verified
        UNABLE_TO_INFER_SCHEMA), so reads fall back to an empty frame
        with the last written schema. The fallback is deliberately
        narrow: only AnalysisException when the path holds no parquet
        data files. A corrupt footer, permission error, or mid-rewrite
        race must raise, not masquerade as a truncated table."""
        try:
            df = self._scan(spark)
        except AnalysisException:
            schema = getattr(self, "_last_schema", None)
            if schema is None or self._has_parquet_files():
                raise
            df = spark.createDataFrame([], schema)
        if self.policy.is_replicated:
            return F.broadcast(df)
        return df

    def read_with_segment_id(self, spark: SparkSession) -> DataFrame:
        """gp_segment_id emulation (cdbvars.h segment identity)."""
        return self.read(spark).withColumn(
            "gp_segment_id", F.spark_partition_id()
        )

    # -- DML (copy-on-write rewrite) ----------------------------------------

    # Heap-order emulation window (bytes of existing parquet data):
    # PG reads a small heap in insertion order, and the reference's
    # regress goldens lean on that (string_agg/array_agg without ORDER
    # BY render insertion-ordered).  Below this threshold, DML keeps
    # the table as ONE file in PG heap order (insert appends at the
    # end, delete preserves survivor order, update moves new tuple
    # versions to the end — heapam.c semantics).  At or above it, the
    # scale paths apply (placed append / distributed rewrite): physical
    # order is arbitrary there, exactly as it is across the reference's
    # own segments.
    HEAP_ORDER_BYTES = 64 << 20
    HEAP_ORDER_ROWS = 100_000

    def _heap_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
        return total

    def _heap_window(self) -> bool:
        """True when the table is small enough to keep PG heap order
        (single-file layout). Partitioned / clustered tables opt out —
        their layout IS the contract."""
        return (not self.partition_by and not self.sort_by
                and os.path.isdir(self.path)
                and self._heap_bytes() <= self.HEAP_ORDER_BYTES)

    def insert_into(self, df: DataFrame) -> int:
        """INSERT: append new files, placed per the distribution policy.
        BEFORE INSERT row triggers fire first: skip_when drops rows,
        assignments rewrite NEW. Returns the rows inserted — the batch
        after its triggers, so a skipped row is not counted (PG's
        command tag).

        Inside the heap-order window the table is rewritten as a single
        file with the new rows at the end (heapam insertion order); the
        incoming batch is row-count-guarded so a bulk INSERT...SELECT
        into a small table still takes the placed-append scale path."""
        for trig in self._triggers("insert"):
            if trig.skip_when is not None:
                df = df.where(~F.coalesce(trig.skip_when, F.lit(False)))
            if trig.assignments:
                df = self._trigger_project(df, trig)
        n = df.count()
        if n <= self.HEAP_ORDER_ROWS and self._heap_window():
            try:
                cur = self._scan(df.sparkSession)
            except AnalysisException:
                cur = None  # a directory with no data files yet
            try:
                combined = (
                    df if cur is None else cur.unionAll(df.select(cur.columns))
                )
                self._rewrite(combined.coalesce(1), placed=False)
                return n
            except AnalysisException:
                pass  # batch does not line up with the table: append it
        self._write(df, mode="append")
        return n

    def delete_where(
        self, spark: SparkSession, cond: Column, returning: bool = False
    ) -> int | DataFrame:
        """DELETE WHERE cond -> rewrite keeping the complement.
        BEFORE DELETE triggers with skip_when veto the deletion for
        matching rows (trigger-returns-NULL). Returns rows deleted, or
        with ``returning=True`` the OLD images of the deleted rows
        (DELETE ... RETURNING *), materialized before the rewrite."""
        cur = self._scan(spark)
        doomed = cond & ~cond.isNull()
        for trig in self._triggers("delete"):
            if trig.skip_when is not None:
                doomed = doomed & ~F.coalesce(trig.skip_when, F.lit(False))
        ret = None
        if returning:
            # pin the OLD images before their files are replaced
            ret = cur.where(doomed).cache()
            ret.count()
        # count the doomed set directly (one scan, pre-rewrite) — the
        # before-minus-after formulation cost two extra full-table scans
        n = ret.count() if returning else cur.where(doomed).count()
        kept = cur.where(~doomed | doomed.isNull())
        if self._heap_window():
            # survivors keep their heap positions (heapam delete)
            self._rewrite(kept.coalesce(1), placed=False)
        else:
            self._rewrite(kept)
        if returning:
            return ret
        return n

    def update_set(
        self,
        spark: SparkSession,
        cond: Column,
        assignments: dict[str, Column],
        returning: bool = False,
    ) -> int | DataFrame:
        """UPDATE SET col=expr WHERE cond -> full-table rewrite with
        CASE-projection. Changing a distkey column is safe: the rewrite
        re-places every row (the reference needs SplitUpdate,
        nodeSplitUpdate.c:124, to do this as delete+insert motions).
        BEFORE UPDATE triggers: skip_when keeps OLD for matching rows;
        assignments rewrite NEW on top of the SET clause."""
        upd = cond
        for trig in self._triggers("update"):
            if trig.skip_when is not None:
                upd = upd & ~F.coalesce(trig.skip_when, F.lit(False))
        cur = self._scan(spark)
        # resolve assignment targets case-insensitively (Spark's
        # resolver semantics) and REFUSE unknown columns — a silent
        # mismatch would rewrite the table unchanged while still
        # reporting n matched rows as updated
        by_lower = {c.lower(): c for c in cur.columns}
        resolved = {}
        for k, v in assignments.items():
            if k.lower() not in by_lower:
                raise ValueError(
                    f'UPDATE target column "{k}" does not exist in '
                    f"{self.path}"
                )
            resolved[by_lower[k.lower()]] = v
        assignments = resolved
        n = cur.where(upd).count()

        # one projection over OLD values: trigger assignments take
        # precedence over SET for their columns (both gates are evaluated
        # against the OLD row, PG's OLD/WHEN semantics)
        def new_value(c: str) -> Column:
            branches: list[tuple[Column, Column]] = []
            for trig in self._triggers("update"):
                if c in trig.assignments:
                    gate = upd if trig.when is None else (upd & trig.when)
                    branches.append((gate, trig.assignments[c]))
            if c in assignments:
                branches.append((upd, assignments[c]))
            if not branches:
                return F.col(c)
            expr = F.when(*branches[0])
            for gate, val in branches[1:]:
                expr = expr.when(gate, val)
            return expr.otherwise(F.col(c)).alias(c)

        updated = cur.select(*[new_value(c) for c in cur.columns])
        ret = None
        if returning:
            # NEW images of the touched rows (UPDATE ... RETURNING *),
            # pinned before the rewrite invalidates the source files
            ret = updated.where(upd).cache()
            ret.count()
        heap = self._heap_window()
        if heap:
            # heapam update: the new tuple version lands at the END of
            # the heap; untouched rows keep their positions (PG renders
            # "1,3,2" after UPDATE ... WHERE id=2 on a 1,2,3 heap)
            gate = F.coalesce(upd, F.lit(False))
            # filter on OLD values FIRST, then project: gate applied to
            # the projected frame would re-evaluate the WHERE against
            # the NEW values and drop rows whose SET falsified it
            moved = cur.where(gate).select(
                *[new_value(c) for c in cur.columns])
            updated = cur.where(~gate).unionAll(moved).coalesce(1)
        self._rewrite(updated, placed=not heap)
        return ret if returning else n

    def alter_distribution(
        self,
        spark: SparkSession,
        distributed_by: tuple[str, ...] | list[str] | None = None,
        replicated: bool = False,
    ) -> None:
        """ALTER TABLE ... SET DISTRIBUTED BY (...) / SET DISTRIBUTED
        RANDOMLY / REPLICATED (the reference's full-table redistribute,
        ATExecSetDistributedBy in tablecmds.c): rewrite every row under
        the new placement policy — exactly the data motion the reference
        performs, expressed as one repartition+write."""
        self.policy = DistributionPolicy(
            policytype="r" if replicated else "p",
            distkey=tuple(distributed_by or ()),
        )
        self._rewrite(self._scan(spark))

    def cluster_by(
        self, spark: SparkSession, cols: tuple[str, ...] | list[str]
    ) -> None:
        """CLUSTER table USING index (commands/cluster.c): physically
        reorder rows so correlated predicates touch few blocks. On
        parquet this is range-repartition + in-partition sort on the
        cluster keys before the rewrite: every row group's min/max stats
        become tight, so a selective filter prunes most row groups at
        scan time — the 100 TB analog of the heap-order benefit CLUSTER
        buys the reference (and of AO tables' natural insert order).
        Like the reference (cluster.c reorders each heap, distribution
        untouched), placement stays with the distkey policy and the sort
        happens within each placed partition, stored in ``self.sort_by``
        so later rewrites keep the order."""
        self.sort_by = tuple(cols)
        cur = self._scan(spark)
        tmp = f"{self.path}__cluster_{uuid.uuid4().hex[:8]}"
        writer = (
            self._placed(cur)
            .sortWithinPartitions(*cols)
            .write.mode("overwrite")
            .option("compression", self.compression)
        )
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        self._swap_in(tmp, cur.schema)

    def drop_partition(self, spark: SparkSession, value) -> int:
        """ALTER TABLE ... DROP PARTITION (cdbpartition.c / tablecmds.c):
        metadata-speed removal of one list partition — on hive-layout
        parquet, deleting the partition directory; no scan of the rest.
        Returns rows dropped (from the partition's own footer counts)."""
        part_dir = os.path.join(
            self.path, f"{self.partition_by[0]}={value}"
        )
        if not os.path.isdir(part_dir):
            return 0
        n = spark.read.parquet(part_dir).count()
        shutil.rmtree(part_dir)
        self._schema = None  # partition DDL: re-infer (module docstring)
        return n

    def exchange_partition(
        self, spark: SparkSession, value, df: DataFrame
    ) -> int:
        """ALTER TABLE ... EXCHANGE PARTITION (the reference's loading
        idiom: stage data in a side table, then swap it in atomically —
        ATPExecPartExchange, cdbpartition.c). Writes the incoming rows as
        the new partition directory and swaps it for the old one; the
        other partitions are untouched (no table rewrite). Returns the
        rows now in the partition."""
        pcol = self.partition_by[0]
        part_dir = os.path.join(self.path, f"{pcol}={value}")
        # temp output lives OUTSIDE the table root: a mid-write failure
        # must not leave a directory that partition discovery would
        # parse as a phantom partition (duplicating or corrupting reads)
        tmp = f"{self.path}__exchange_{uuid.uuid4().hex[:8]}"
        out = df.drop(pcol) if pcol in df.columns else df
        placed = (
            out.repartition(self.num_buckets, *self.policy.distkey)
            if self.policy.distkey
            else out
        )
        placed.write.mode("overwrite").option(
            "compression", self.compression
        ).parquet(tmp)
        if os.path.isdir(part_dir):
            old = f"{part_dir}__old_{uuid.uuid4().hex[:8]}"
            os.rename(part_dir, old)
            os.rename(tmp, part_dir)
            shutil.rmtree(old)
        else:
            os.rename(tmp, part_dir)  # ADD PARTITION via exchange
        self._schema = None  # partition DDL: re-infer (module docstring)
        return spark.read.parquet(part_dir).count()

    def split_partition(
        self,
        spark: SparkSession,
        value,
        split_col: str,
        at,
        into: tuple,
    ) -> tuple[int, int]:
        """ALTER TABLE ... SPLIT PARTITION FOR (value) AT (at) INTO
        (PARTITION lo, PARTITION hi) — the third of the partition-rollout
        trio next to drop_partition/exchange_partition
        (ATPExecPartSplit, tablecmds.c; boundary validation in
        /root/reference/src/backend/cdb/cdbpartition.c:6816 region).

        ONE partition's rows are rerouted across the ``split_col < at``
        boundary into two NEW partitions named by ``into=(lo, hi)``
        (rows with split_col >= at or NULL go to ``hi``, PG's default
        route). Sibling partition directories are untouched — no table
        rewrite — and each new partition is written with the table's
        distribution policy and clustered sort order, so downstream
        bucketed joins and row-group pruning behave exactly as for
        original partitions. Returns (rows_lo, rows_hi)."""
        pcol = self.partition_by[0]
        part_dir = os.path.join(self.path, f"{pcol}={value}")
        if not os.path.isdir(part_dir):
            raise ValueError(f"no partition for {pcol}={value}")
        lo_val, hi_val = into
        dirs = {
            v: os.path.join(self.path, f"{pcol}={v}") for v in (lo_val, hi_val)
        }
        for v, d in dirs.items():
            if os.path.isdir(d):
                raise ValueError(f"target partition {pcol}={v} exists")
        df = spark.read.parquet(part_dir)
        halves = {
            lo_val: df.where(F.col(split_col) < F.lit(at)),
            hi_val: df.where(
                ~(F.col(split_col) < F.lit(at)) | F.col(split_col).isNull()
            ),
        }
        counts = {}
        tmps = {}
        for v, part in halves.items():
            placed = (
                part.repartition(self.num_buckets, *self.policy.distkey)
                if self.policy.distkey and not self.policy.is_replicated
                else part
            )
            if self.sort_by:
                placed = placed.sortWithinPartitions(*self.sort_by)
            # sibling of the TABLE, not inside it — see exchange_partition
            tmp = f"{self.path}__split_{v}_{uuid.uuid4().hex[:8]}"
            placed.write.mode("overwrite").option(
                "compression", self.compression
            ).parquet(tmp)
            tmps[v] = tmp
        # all writes succeeded: swap in the two new partitions, drop the
        # old one (the rename window is the same one exchange_partition
        # accepts; parquet has no WAL — documented storage trade)
        for v, tmp in tmps.items():
            os.rename(tmp, dirs[v])
        shutil.rmtree(part_dir)
        self._schema = None  # partition DDL: re-infer (module docstring)
        for v, d in dirs.items():
            counts[v] = spark.read.parquet(d).count()
        return counts[lo_val], counts[hi_val]

    def vacuum(
        self, spark: SparkSession, target_file_bytes: int = 128 << 20
    ) -> tuple[int, int]:
        """VACUUM for append-optimized storage (the reference's AO
        compaction, appendonly_vacuum in vacuum_ao.c: dead/fragmented
        segment files are rewritten into full ones). On parquet the
        fragmentation failure mode is SMALL FILES — every
        insert/micro-batch appends its own part files, and at 1000
        executors a table of million-row-but-KB files is scan-metadata
        bound. Rewrite into ceil(bytes/target) files, preserving the
        distribution policy and clustered sort order. Returns
        (files_before, files_after)."""
        import glob as _glob

        files_before = len(_glob.glob(f"{self.path}/**/*.parquet", recursive=True))
        total = sum(
            os.path.getsize(p)
            for p in _glob.glob(f"{self.path}/**/*.parquet", recursive=True)
        )
        want = max(1, -(-total // target_file_bytes))
        cur = self._scan(spark)
        tmp = f"{self.path}__vacuum_{uuid.uuid4().hex[:8]}"
        out = cur.repartition(want, *self.policy.distkey) if (
            self.policy.distkey and not self.policy.is_replicated
        ) else cur.repartition(want)
        if self.sort_by:
            out = out.sortWithinPartitions(*self.sort_by)
        writer = out.write.mode("overwrite").option(
            "compression", self.compression
        )
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        self._swap_in(tmp, cur.schema)
        files_after = len(_glob.glob(f"{self.path}/**/*.parquet", recursive=True))
        return files_before, files_after

    def truncate(self, spark: SparkSession) -> None:
        """TRUNCATE TABLE: drop all rows, keep schema + policy
        (ExecuteTruncate, tablecmds.c — metadata-speed, no row scan)."""
        self._rewrite(spark.createDataFrame([], self.schema(spark)))

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        conflict_keys: list[str],
        update_cols: list[str] | None = None,
    ) -> tuple[int, int]:
        """INSERT ... ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col
        (the reference's speculative-insert ModifyTable path): matched
        rows take the incoming values for ``update_cols`` (default: all
        non-key columns), unmatched incoming rows append. One full-outer
        style rewrite — join on the conflict key, project
        matched-vs-existing, union the brand-new rows. Returns
        (n_updated, n_inserted). Incoming duplicates per key collapse to
        one (PG raises instead; first-wins here, documented)."""
        cur = self._scan(spark)
        incoming = df.dropDuplicates(conflict_keys)
        if update_cols is None:
            update_cols = [c for c in cur.columns if c not in conflict_keys]
        inc = incoming.select(
            *[F.col(k).alias(f"__i_{k}") for k in conflict_keys],
            *[
                F.col(c).alias(f"__v_{c}")
                for c in cur.columns
                if c not in conflict_keys
            ],
        )
        on = None
        for k in conflict_keys:
            e = F.col(k) == F.col(f"__i_{k}")
            on = e if on is None else (on & e)
        joined = cur.join(inc, on, "left")
        matched = F.col(f"__i_{conflict_keys[0]}").isNotNull()
        n_updated = joined.where(matched).count()
        updated = joined.select(
            *[
                F.when(matched, F.col(f"__v_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                if c in update_cols
                else F.col(c)
                for c in cur.columns
            ]
        )
        new_rows = incoming.join(
            cur.select(*conflict_keys), conflict_keys, "left_anti"
        ).select(*cur.columns)
        n_inserted = new_rows.count()
        self._rewrite(updated.unionByName(new_rows))
        return n_updated, n_inserted

    def delete_using(
        self,
        spark: SparkSession,
        using: DataFrame,
        join_cond: Column,
        extra_where: Column | None = None,
    ) -> int:
        """DELETE FROM t USING other WHERE join_cond [AND extra]
        (gram.y using_clause; planned as a join in the reference):
        rows with a match in ``using`` are deleted — a LEFT SEMI join
        decides the doomed set, then the complement is rewritten.
        BEFORE DELETE skip_when triggers veto as usual."""
        cur = self._scan(spark)
        before = cur.count()
        # survivors = rows with NO match (anti) plus matched rows kept by
        # a failed extra predicate or a trigger veto — never an anti-join
        # on all columns (NULLs would immortalize rows)
        anti = cur.join(using, join_cond, "left_anti")
        semi = cur.join(using, join_cond, "left_semi")
        keep_cond = F.lit(False)
        if extra_where is not None:
            keep_cond = keep_cond | ~F.coalesce(extra_where, F.lit(False))
        for trig in self._triggers("delete"):
            if trig.skip_when is not None:
                keep_cond = keep_cond | F.coalesce(
                    trig.skip_when, F.lit(False)
                )
        kept = anti.unionByName(semi.where(keep_cond))
        self._rewrite(kept)
        return before - self._scan(spark).count()

    def update_from(
        self,
        spark: SparkSession,
        source: DataFrame,
        join_keys: list[str],
        assignments: dict[str, Column],
        cond: Column | None = None,
    ) -> int:
        """UPDATE t SET col = expr FROM source WHERE t.k = source.k
        (gram.y from_clause on UPDATE): the standard join-update. Rows
        with a source match get ``assignments`` (expressions may
        reference source columns); unmatched rows pass through. Source
        must be unique per key (PG raises on multiple matches; here the
        first match wins deterministically via dropDuplicates). Source
        payload columns must not share a name with a target column —
        the join would make the assignment expression resolve to the
        target's OLD value and the update silently no-op; alias the
        source column (PG disambiguates with s.col, which DataFrame
        column references cannot express here)."""
        cur = self._scan(spark)
        src = source.dropDuplicates(join_keys)
        clash = [
            c for c in src.columns
            if c not in join_keys and c in cur.columns
        ]
        if clash:
            raise ValueError(
                f"update_from: source payload column(s) {clash} collide "
                "with target columns — alias them in the source "
                "DataFrame (e.g. .withColumnRenamed('val', 'new_val'))"
            )
        src_cols = [
            c for c in src.columns if c not in cur.columns
        ]  # payload columns
        renamed = src.select(
            *[F.col(k).alias(f"__k_{k}") for k in join_keys],
            *[F.col(c) for c in src_cols],
        )
        on = None
        for k in join_keys:
            e = F.col(k) == F.col(f"__k_{k}")
            on = e if on is None else (on & e)
        joined = cur.join(renamed, on, "left")
        matched = F.col(f"__k_{join_keys[0]}").isNotNull()
        if cond is not None:
            matched = matched & cond
        n = joined.where(matched).count()
        out = joined.select(
            *[
                F.when(matched, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in cur.columns
            ]
        )
        self._rewrite(out)
        return n

    # -- bucketed catalog tables (persistent co-location) --------------------

    @staticmethod
    def save_bucketed(
        df: DataFrame,
        table_name: str,
        bucket_cols: tuple[str, ...] | list[str],
        num_buckets: int = 32,
        sort_cols: tuple[str, ...] | list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """DISTRIBUTED BY with *persistent* co-location: bucketBy writes
        hash-bucketed files registered in the session catalog, so joins
        and aggregations on the bucket key run WITHOUT any exchange — the
        exact analog of the reference's segment-local joins on matching
        distribution keys (cdbpath_motion_for_join's no-motion fast path).
        Sort columns additionally enable merge-join without a sort step."""
        spark = df.sparkSession
        if mode == "overwrite" and not spark.catalog.tableExists(table_name):
            # A crashed prior run can leave the warehouse directory behind
            # with no catalog entry; saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS even in overwrite mode.
            import shutil
            from urllib.parse import urlparse

            wh = spark.conf.get("spark.sql.warehouse.dir")
            loc = os.path.join(urlparse(wh).path or wh, table_name.lower())
            if os.path.isdir(loc):
                shutil.rmtree(loc)
        writer = (
            df.write.mode(mode)
            .format("parquet")
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table_name)

    def _rewrite(self, df: DataFrame, placed: bool = True) -> None:
        """Atomic-ish copy-on-write: write to a temp dir, then swap.
        Honors ``sort_by`` like _write — without it, the first
        UPDATE/DELETE after CLUSTER would silently destroy the
        clustered order (and the row-group pruning it bought).
        ``placed=False`` skips the distribution shuffle (heap-order
        emulation: the caller pre-coalesced to one ordered file)."""
        tmp = f"{self.path}__rewrite_{uuid.uuid4().hex[:8]}"
        self._last_schema = df.schema
        if not placed:
            (df.write.mode("overwrite")
             .option("compression", self.compression).parquet(tmp))
        elif self.partition_by and df.isEmpty():
            # an empty dynamic-partitioned write produces NO
            # schema-bearing files and a root-level part file would
            # conflict with later partition dirs — swap in a bare empty
            # directory instead; read() serves the schema fallback
            os.makedirs(tmp, exist_ok=True)
        else:
            placed = self._placed(df)
            if self.sort_by:
                placed = placed.sortWithinPartitions(*self.sort_by)
            writer = (
                placed.write.mode("overwrite").option("compression", self.compression)
            )
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(tmp)
        self._swap_in(tmp, df.schema)

    def _swap_in(self, tmp: str, schema: StructType) -> None:
        """Replace the table's directory with ``tmp``, freshly written
        with ``schema``, and record that schema as the known one."""
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)
        self._stored(schema, replaced=True)
