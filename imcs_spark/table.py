"""Table layer: the cs_create / TABLE_* generated-API surface.

Reference: cs_create codegen imcs--1.1.sql:33-430 generates per-table
functions (load/get/span/first/last/count/delete/append/join/project).
Here `Engine.create(...)` returns a `TsTable` handle exposing the same
verbs as methods — no codegen needed, Python objects close over the
schema.

Storage model (SURVEY §1.4): a timeseries table is a Parquet-backed
DataFrame sorted by (id, ts). At scale the Parquet layout should be
partitioned/bucketed so that:
- time-range `get` prunes row groups via min/max stats on ts
  (the analog of the reference's B-Tree descent, btree.c:479-590);
- per-id operators run without a shuffle (id is the partition key).

Mutation (append with ascending-ts enforcement, range delete,
truncate — reference btree.c:384-478, 747-905) is implemented as
versioned rewrites: Parquet is immutable, so appends write new files
into the table directory and deletes rewrite the anti-filter. This
mirrors the reference's MURSIW single-writer model (imcs.c:893-904).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .series import with_pos


class OutOfOrderAppendError(ValueError):
    """Reference errors on appends with non-ascending timestamps
    (imcs.c:4299-4306) unless nulls/ordering relaxed."""


class TsTable:
    """Handle over one registered timeseries table."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        df: DataFrame,
        ts_col: str,
        id_col: str | None = None,
        path: str | None = None,
        tiebreak: Sequence[str] = (),
    ):
        self.spark = spark
        self.name = name
        self._df = df
        self.ts_col = ts_col
        self.id_col = id_col
        self.path = path
        # Deterministic ordering tiebreak for the positional spine: the
        # reference keeps insertion order among equal timestamps; an
        # engine-independent pos needs a total order, so callers name
        # unique tiebreaker column(s) (e.g. an event id) used by
        # with_pos/span after ts.
        self.tiebreak = tuple(tiebreak)

    # --- read surface -------------------------------------------------
    def df(self) -> DataFrame:
        return self._df

    def get(self, id_value=None, low=None, high=None, limit: int | None = None) -> DataFrame:
        """TABLE_get: time-slice [low, high], optionally one series.
        Reference: generated imcs--1.1.sql:262-283 → B-Tree range search
        imcs.c:2197-2233. In Spark the filter reaches the Parquet scan
        (PushedFilters), which prunes row groups by ts min/max — same
        O(touched data) behavior without an explicit index."""
        out = self._df
        if id_value is not None and self.id_col:
            if isinstance(id_value, (list, tuple, set)):
                # reference TABLE_get(array[...]): one series per id
                # (imcs--1.1.sql:262-283 array overloads)
                out = out.filter(F.col(self.id_col).isin(*id_value))
            else:
                out = out.filter(F.col(self.id_col) == id_value)
        if low is not None:
            out = out.filter(F.col(self.ts_col) >= low)
        if high is not None:
            out = out.filter(F.col(self.ts_col) <= high)
        if limit is not None:
            # the reference returns a TIME-ORDERED prefix; a bare
            # .limit() on an unsorted scan would return n arbitrary
            # rows. orderBy+limit plans as TakeOrderedAndProject (a
            # bounded heap per partition + merge — no global sort).
            out = out.orderBy(self.ts_col, *self.tiebreak).limit(limit)
        return out

    def with_pos(self, df: DataFrame | None = None) -> DataFrame:
        """Attach the positional spine (per-id when id_col exists)."""
        src = df if df is not None else self._df
        parts = [self.id_col] if self.id_col else None
        return with_pos(src, [self.ts_col, *self.tiebreak], parts)

    def span(self, id_value=None, from_pos: int = 0, till_pos: int | None = None) -> DataFrame:
        """TABLE_span: positional slice; negatives count from the end
        (reference imcs.c:2179-2194, btree.c:201-254).

        Negative positions resolve LAZILY: the series length rides in as
        a broadcast one-row aggregate inside the plan instead of a
        blocking driver-side count, so span composes into larger lazy
        plans and never serializes the driver at scale."""
        src = self.get(id_value)
        posed = self.with_pos(src)
        if from_pos >= 0 and (till_pos is None or till_pos >= 0):
            out = posed.filter(F.col("pos") >= from_pos)
            if till_pos is not None:
                out = out.filter(F.col("pos") <= till_pos)
            return out
        if self.id_col and id_value is None:
            # multi-series frame: pos is numbered PER SERIES, so the
            # negative offset must resolve against each series' own
            # length, not the global row count
            n = F.count(F.lit(1)).over(Window.partitionBy(self.id_col))
            out = posed.withColumn("_span_n", n)
        else:
            cnt = src.agg(F.count(F.lit(1)).alias("_span_n"))
            out = posed.crossJoin(F.broadcast(cnt))
        lo = F.lit(from_pos) if from_pos >= 0 else F.col("_span_n") + from_pos
        out = out.filter(F.col("pos") >= lo)
        if till_pos is not None:
            hi = F.lit(till_pos) if till_pos >= 0 else F.col("_span_n") + till_pos
            out = out.filter(F.col("pos") <= hi)
        return out.drop("_span_n")

    def concat(self, ids: Sequence, low=None, high=None) -> DataFrame:
        """TABLE_concat (imcs--1.1.sql:246-259): slices of several ids
        in the id-sequence order given, then ts order."""
        if not self.id_col:
            raise ValueError("concat: this table has no id column")
        ids = list(ids)
        if not ids:
            # createDataFrame([]) cannot infer a schema; an empty id
            # list just means an empty slice
            return self._df.limit(0)
        sliced = self.get(None, low, high).filter(F.col(self.id_col).isin(ids))
        # id type inferred from the values (ids are strings in the
        # reference's Quote-style tables but plain ints elsewhere)
        order_map = self.spark.createDataFrame(
            [(v, i) for i, v in enumerate(ids)], [self.id_col, "_id_order"]
        )
        return (
            sliced.join(F.broadcast(order_map), self.id_col)
            .orderBy("_id_order", self.ts_col)
            .drop("_id_order")
        )

    def first(self, id_value=None) -> DataFrame:
        """TABLE_first: min timestamp (btree.c:349-383)."""
        return self.get(id_value).agg(F.min(self.ts_col).alias("first"))

    def last(self, id_value=None) -> DataFrame:
        return self.get(id_value).agg(F.max(self.ts_col).alias("last"))

    def count(self, id_value=None) -> int:
        return self.get(id_value).count()

    def project(self, columns: Sequence[str], positions: DataFrame | None = None) -> DataFrame:
        """cs_project (imcs.c:3679-3923): vertical→horizontal. A
        DataFrame is already horizontal, so this is a select; with a
        positions frame it's a broadcast semi-join on pos."""
        posed = self.with_pos()
        cols = ["pos"] + ([self.id_col] if self.id_col else []) + list(columns)
        out = posed.select(*cols)
        if positions is not None:
            out = out.join(F.broadcast(positions.select("pos")), "pos", "left_semi")
        return out.orderBy(*(([self.id_col] if self.id_col else []) + ["pos"]))

    # --- mutation surface --------------------------------------------
    def append(self, new_df: DataFrame, already_sorted: bool = False, strict_order: bool = True) -> "TsTable":
        """Ordered append. The reference rejects timestamps below the
        current maximum per series (imcs.c:4299-4300); we enforce the
        same check with one tiny aggregate + broadcast join, then union.

        Cost note: strict_order runs one small Spark job per call (a
        per-series max aggregate — bounded by the series count, never
        the row count). For high-frequency ingest, batch appends or use
        streaming.append_stream, which amortizes the ordering check
        across each micro-batch instead of per call; pass
        strict_order=False when the producer already guarantees order.
        """
        if strict_order:
            if self.id_col:
                cur_max = self._df.groupBy(self.id_col).agg(F.max(self.ts_col).alias("_maxts"))
                bad = (
                    new_df.join(F.broadcast(cur_max), self.id_col, "left")
                    .filter(F.col(self.ts_col) < F.col("_maxts"))
                    .limit(1)
                    .count()
                )
            else:
                row = self._df.agg(F.max(self.ts_col).alias("m")).collect()[0]
                bad = 0
                if row["m"] is not None:
                    bad = new_df.filter(F.col(self.ts_col) < F.lit(row["m"])).limit(1).count()
            if bad:
                raise OutOfOrderAppendError(
                    f"append to {self.name}: timestamps below current maximum"
                )
        merged = self._df.unionByName(new_df)
        return TsTable(
            self.spark, self.name, merged, self.ts_col, self.id_col, self.path,
            self.tiebreak,
        )

    def delete(self, id_value=None, from_ts=None, till_ts=None) -> "TsTable":
        """TABLE_delete: range delete / head-trim as an anti-filter
        rewrite (reference btree.c:747-905 does page surgery; on
        immutable Parquet a filtered rewrite is the equivalent)."""
        cond = F.lit(True)
        if id_value is not None:
            if not self.id_col:
                # silently ignoring the id on an id-less table would
                # WIDEN the delete to every row in the range — a
                # destructive mis-scope, unlike the read-only verbs
                raise ValueError(
                    "delete: id_value given but this table has no id column"
                )
            cond = cond & (F.col(self.id_col) == id_value)
        if from_ts is not None:
            cond = cond & (F.col(self.ts_col) >= from_ts)
        if till_ts is not None:
            cond = cond & (F.col(self.ts_col) <= till_ts)
        kept = self._df.filter(~cond)
        return TsTable(
            self.spark, self.name, kept, self.ts_col, self.id_col, self.path,
            self.tiebreak,
        )

    def truncate(self) -> "TsTable":
        return TsTable(
            self.spark, self.name, self._df.limit(0), self.ts_col, self.id_col,
            self.path, self.tiebreak,
        )

    def empty(self, id_value=None) -> bool:
        """cs_empty (imcs.c:3613-3668)."""
        return self.get(id_value).limit(1).count() == 0

    def join(
        self,
        probe: DataFrame,
        direction: int = 0,
        right_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """TABLE_join: join a probe frame against this table's sorted
        timestamp; direction -1/0/+1 = preceding/exact/succeeding
        (imcs--1.1.sql:334-347)."""
        from .operators.joins import table_join

        by = [self.id_col] if self.id_col else None
        return table_join(probe, self._df, self.ts_col, direction, by, right_cols)

    # --- versioned persistence ---------------------------------------
    # The reference mutates shared memory under a single-writer lock
    # (MURSIW, imcs.c:893-904). Parquet is immutable, so mutation is
    # modeled as versioned snapshots: each save writes data/v=N and
    # repoints a tiny _VERSION file — readers of an open version are
    # never disturbed. The pointer goes through the Hadoop FileSystem
    # API so versioned persistence works on ANY scheme the data path
    # uses (s3a://, hdfs://, file:) — driver-local os APIs silently
    # limited it to local paths. Concurrent writers are last-writer-
    # wins: each writes a UNIQUE tmp pointer (interleaved writes to a
    # shared tmp could corrupt the JSON) and the final delete+rename
    # window is documented, not hidden — true single-writer locking is
    # the deployment's job (the reference's MURSIW lock likewise lived
    # outside the storage format).
    def save(self, path: str | None = None) -> "TsTable":
        import json
        import time as _time

        base = path or self.path
        if base is None:
            raise ValueError("no storage path bound; pass path=")
        version = int(_time.time() * 1000)
        data_dir = os.path.join(base, f"v={version}")
        writer = self._df
        if self.id_col:
            writer = writer.repartition(self.id_col).sortWithinPartitions(
                self.id_col, self.ts_col
            )
        else:
            writer = writer.sortWithinPartitions(self.ts_col)
        writer.write.mode("overwrite").parquet(data_dir)
        meta = json.dumps(
            {
                "version": version,
                "ts_col": self.ts_col,
                "id_col": self.id_col,
                # persisted so open() restores deterministic
                # equal-timestamp ordering — dropping it made
                # with_pos()/span() positions nondeterministic
                # across a save/open round trip
                "tiebreak": list(self.tiebreak),
            }
        )
        tmp = os.path.join(base, f"_VERSION.tmp.{os.getpid()}.{version}")
        final = os.path.join(base, "_VERSION")
        fs, _, jvm = self._hadoop_fs(base)
        out = fs.create(jvm.org.apache.hadoop.fs.Path(tmp), True)
        out.write(bytearray(meta.encode("utf-8")))
        out.close()
        fpath = jvm.org.apache.hadoop.fs.Path(final)
        if fs.exists(fpath):
            fs.delete(fpath, False)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), fpath)
        return TsTable(
            self.spark, self.name, self.spark.read.parquet(data_dir),
            self.ts_col, self.id_col, base, self.tiebreak,
        )

    def _hadoop_fs(self, path: str):
        jvm = self.spark._jvm
        hp = jvm.org.apache.hadoop.fs.Path(path)
        return hp.getFileSystem(self.spark._jsc.hadoopConfiguration()), hp, jvm

    @classmethod
    def open(cls, spark: SparkSession, name: str, base: str) -> "TsTable":
        import json

        jvm = spark._jvm
        hp = jvm.org.apache.hadoop.fs.Path(os.path.join(base, "_VERSION"))
        fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.open(hp)
        try:
            meta = json.loads(
                jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()
        data_dir = os.path.join(base, f"v={meta['version']}")
        return cls(
            spark, name, spark.read.parquet(data_dir), meta["ts_col"],
            meta["id_col"], base, tuple(meta.get("tiebreak", ())),
        )


class Engine:
    """Facade: the cs_create catalog (reference shared-memory hash
    imcs.c:879-908 keyed by table-column strings; here a dict of
    TsTable handles)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, TsTable] = {}

    def create(
        self,
        name: str,
        source: str | DataFrame,
        ts_col: str,
        id_col: str | None = None,
        tiebreak: Sequence[str] = (),
        format: str = "parquet",
        schema: str | None = None,
        **reader_options,
    ) -> TsTable:
        """Register a series table from a DataFrame or a path.

        ``format`` selects the reader for path sources: 'parquet'
        (default — the engine's native layout), 'orc' (the other
        columnar format Spark reads natively, with pushdown/pruning —
        fine to query in place), 'csv' (header inferred unless a
        ``schema`` DDL string is given; pass reader options like
        ``delimiter`` through), or 'json' (JSON-lines). ``schema``
        and reader options (e.g. ``mergeSchema``) apply to every
        format. Ingest
        from text formats is a one-time scan — call ``.save()`` on the
        result to land the versioned sorted parquet layout every later
        query should read (text formats carry no column pruning, no
        predicate pushdown, and no min/max row-group stats, so they
        are the wrong thing to query repeatedly at any scale)."""
        if isinstance(source, DataFrame):
            df = source
            path = None
        else:
            path = source
            if format in ("parquet", "orc", "csv", "json"):
                reader = self.spark.read
                if schema:
                    reader = reader.schema(schema)
                elif format == "csv":
                    reader_options.setdefault("inferSchema", "true")
                if format == "csv":
                    reader_options.setdefault("header", "true")
                df = reader.options(**reader_options).format(format).load(source)
            else:
                raise ValueError(f"Engine.create: unsupported format {format!r}")
        # Fail fast on a missing/typo'd ts_col for EVERY source kind —
        # DataFrame sources included — rather than surfacing as an
        # analysis error deep inside the first query.
        if ts_col not in df.columns:
            raise ValueError(
                f"Engine.create: ts_col {ts_col!r} not in source columns"
                f" {df.columns}"
            )
        t = TsTable(self.spark, name, df, ts_col, id_col, path, tiebreak)
        self.tables[name] = t
        return t

    def load_dir(self, sf_dir: str, specs: dict[str, tuple[str, str | None]]) -> None:
        """Bulk-register tables from a directory of parquet files.
        specs: {table_name: (ts_col, id_col)}."""
        for name, (ts, idc) in specs.items():
            self.create(name, os.path.join(sf_dir, f"{name}.parquet"), ts, idc)

    def save_bucketed(
        self,
        name: str,
        df: DataFrame,
        keys: list[str],
        buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> DataFrame:
        """Write `df` as a bucketed, sorted catalog table. Two tables
        bucketed the same way (same keys, same bucket count) join with
        a sort-merge and NO Exchange on either side, and aggregations
        on the bucket keys skip their shuffle too — at 100 TB,
        bucketing fact tables on their join keys once at ingest
        removes the dominant shuffle from every subsequent query on
        those keys. Bucket metadata lives in the catalog, so this uses
        saveAsTable (a plain parquet path cannot carry it); pick
        `buckets` so one bucket of the largest table fits an executor
        (size / buckets ~ a few hundred MB)."""
        (
            df.write.format("parquet")
            .mode("overwrite")
            .bucketBy(buckets, *keys)
            .sortBy(*(sort_cols or keys))
            .saveAsTable(name)
        )
        return self.spark.table(name)

    def drop(self, name: str) -> None:
        self.tables.pop(name, None)

    def is_loaded(self, name: str) -> bool:
        return name in self.tables

    def profile(self, reset: bool = False) -> list[tuple[str, int]]:
        """cs_profile(reset): non-zero per-operator invocation counts
        plus a TOTAL row (reference imcs.c:5716-5768 dumps the
        imcs_command_profile[] array). Counters bump when an operator
        function CONSTRUCTS its plan — the Spark-side moment analogous
        to the reference executing a command node; see profile.py."""
        from . import profile as _profile

        return _profile.profile(do_reset=reset)

    def stats(self) -> dict:
        """cs_used_memory analog (reference imcs.c:5275-5279
        walks the shared-memory allocator). Spark's equivalent truth
        lives in the BlockManager: report cached-RDD memory/disk
        footprints, the registered-table catalog and the generated-code
        cache: compiles so far, and the capacity this session's conf
        asks for. The cache is JVM-wide and sized by the first codegen
        in the JVM, so a session started later in the same JVM can
        report a capacity the cache does not have; the compile count
        is the real measure. Purely introspective — no jobs run."""
        sc = self.spark.sparkContext
        cached = []
        mem_total = 0
        disk_total = 0
        for info in sc._jsc.sc().getRDDStorageInfo():
            mem_total += info.memSize()
            disk_total += info.diskSize()
            cached.append(
                {
                    "rdd": info.name() or f"rdd_{info.id()}",
                    "mem_bytes": info.memSize(),
                    "disk_bytes": info.diskSize(),
                    "cached_partitions": info.numCachedPartitions(),
                    "total_partitions": info.numPartitions(),
                }
            )
        # Janino compiles are codegen-cache misses; the count is
        # JVM-wide and cumulative, so callers diff two readings
        codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "used_memory_bytes": mem_total,
            "used_disk_bytes": disk_total,
            "cached_rdds": cached,
            "codegen": {
                "compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
                "configured_cache_max_entries": int(
                    self.spark.conf.get("spark.sql.codegen.cache.maxEntries")
                ),
            },
            "tables": {
                name: {
                    "columns": len(t.df().columns),
                    "ts_col": t.ts_col,
                    "id_col": t.id_col,
                    "path": t.path,
                }
                for name, t in self.tables.items()
            },
        }
