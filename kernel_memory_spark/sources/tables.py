"""Snapshot-versioned parquet table layer (the engine's sink, SURVEY §2.1).

Gives the MERGE/DELETE/append + snapshot-isolation semantics the pipeline
needs for exact resume (Q1-Q7 of SURVEY §2.9) without requiring the Iceberg
runtime jar (unavailable offline in this sandbox — SURVEY §7.3 risk 4).

Layout per table::

    <root>/<name>/data/<uuid>/...parquet        immutable data directories
    <root>/<name>/_manifests/<version>.json     snapshot = list of data dirs
    <root>/<name>/_LATEST                       atomic pointer (os.replace)

A snapshot commit is: write new data dirs, write manifest N+1, atomically
swap _LATEST. Readers resolve _LATEST once, so a crash mid-write never
exposes a partial table — the same contract Iceberg snapshots give, which is
what makes at-least-once stage re-runs safe (DistributedPipelineOrchestrator
rollback semantics, SURVEY Q3). On a real 100TB deployment this module is
swapped for Iceberg `MERGE INTO` — the API is deliberately the same shape;
`merge` here rewrites matching files, which Iceberg does with positional
deletes instead.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession


class TableCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _latest_file(self, name: str) -> str:
        return os.path.join(self._dir(name), "_LATEST")

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), "_manifests", f"{version}.json")

    # -- snapshot bookkeeping --------------------------------------------------

    def exists(self, name: str) -> bool:
        return os.path.exists(self._latest_file(name))

    def current_version(self, name: str) -> int:
        if not self.exists(name):
            return 0
        with open(self._latest_file(name)) as f:
            return int(f.read().strip())

    def _manifest(self, name: str, version: Optional[int] = None) -> dict:
        v = version if version is not None else self.current_version(name)
        with open(self._manifest_path(name, v)) as f:
            return json.load(f)

    def _commit(self, name: str, data_dirs: List[str],
                bucketing: Optional[dict] = None, msc: int = 0) -> int:
        version = self.current_version(name) + 1
        os.makedirs(os.path.join(self._dir(name), "_manifests"), exist_ok=True)
        manifest = {"version": version, "data": data_dirs}
        if msc:
            # merges committed since the table was last compacted (or
            # created). The auto_compact trigger reads this instead of
            # counting files: a write-first merge folds every bucket it
            # touches back to <=2 entries, so file counts alone never
            # reveal accumulated maintenance debt (e.g. the co-occurrence
            # index's zero-count tombstone ROWS, which grow with every
            # replace-mode fold but never add a manifest entry).
            manifest["msc"] = msc
        if bucketing:
            # Records (bucket_col, n_buckets) of the layout the bucket labels
            # were computed under. A later merge with a different modulus must
            # NOT trust these labels (it would skip rereading old rows whose
            # keys now hash elsewhere) — _entries_under() nulls them out on
            # mismatch, forcing a full migration rewrite.
            manifest["bucketing"] = bucketing
        with open(self._manifest_path(name, version), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_file(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._latest_file(name))  # atomic pointer swap
        return version

    def _new_data_dir(self, name: str) -> str:
        d = os.path.join(self._dir(name), "data", uuid.uuid4().hex)
        return d

    # -- operations ------------------------------------------------------------

    @staticmethod
    def _entry_path(entry) -> str:
        return entry if isinstance(entry, str) else entry["path"]

    def read(self, spark: SparkSession, name: str,
             version: Optional[int] = None,
             schema=None) -> DataFrame:
        """A caller that knows the table's `schema` (DDL string or
        StructType) saves the schema-inference job a plain parquet read
        launches."""
        manifest = self._manifest(name, version)
        paths = [
            os.path.join(self._dir(name), self._entry_path(d))
            for d in manifest["data"]
        ]
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def read_buckets(self, spark: SparkSession, name: str,
                     buckets) -> DataFrame:
        """Read only the given buckets of a bucketed table (manifest-level
        pruning — unbucketed legacy entries are always included)."""
        wanted = set(buckets)
        paths = [
            os.path.join(self._dir(name), e["path"])
            for e in self._entries(name)
            if e["bucket"] is None or e["bucket"] in wanted
        ]
        if not paths:
            # none of the wanted buckets exist yet: empty frame with the
            # table's schema (footer-only peek at the full manifest)
            return self.read(spark, name).limit(0)
        return spark.read.parquet(*paths)

    def overwrite(self, df: DataFrame, name: str,
                  partition_by: Optional[List[str]] = None) -> int:
        """partition_by writes hive-layout directories so reads with an
        equality filter on those columns prune at the file listing (the
        probe path of a persisted ANN index scans only its buckets)."""
        d = self._new_data_dir(name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(d)
        return self._commit(name, [os.path.relpath(d, self._dir(name))])

    def append(self, df: DataFrame, name: str) -> int:
        """A write that lands no rows in an existing table commits nothing
        (checked on the written footers: no count job)."""
        d = self._new_data_dir(name)
        df.write.mode("overwrite").parquet(d)
        if self.exists(name) and not any(
            n for _, n in _parquet_file_counts(d)
        ):
            shutil.rmtree(d, ignore_errors=True)
            return self.current_version(name)
        rel = os.path.relpath(d, self._dir(name))
        prev, bucketing = [], None
        if self.exists(name):
            m = self._manifest(name)
            prev, bucketing = m["data"], m.get("bucketing")
        # the appended dir is a legacy (bucket=None) entry, which a later
        # merge_bucketed always rereads — existing bucket labels stay valid
        return self._commit(name, prev + [rel], bucketing=bucketing)

    def merge(self, spark: SparkSession, name: str, df: DataFrame,
              key_cols: List[str]) -> int:
        """Upsert: rows in `df` replace existing rows with the same key.

        Mirrors SaveRecordsHandler's per-record upsert (S5/S6) and Iceberg
        MERGE INTO. Survivors = old LEFT ANTI JOIN new on key. Rewrites the
        whole table — use merge_bucketed for tables that grow unboundedly.
        """
        if not self.exists(name):
            return self.overwrite(df, name)
        old = self.read(spark, name)
        survivors = old.join(df.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = survivors.unionByName(df)
        return self.overwrite(merged, name)

    # -- bucketed merge (the 100TB MERGE path) ---------------------------------
    #
    # `merge` rewrites the entire table — correct but O(table) per upsert,
    # which at 100TB means every incremental ingest rewrites everything.
    # `merge_bucketed` hash-partitions rows into N buckets on a stable column
    # (doc_id for records, so one document's records co-locate) and tracks
    # the bucket of every data directory in the manifest; an upsert reads and
    # rewrites ONLY the buckets its input touches. This is the manifest-level
    # analog of Iceberg's bucket-partitioned MERGE INTO (which goes further
    # with positional deletes). Untouched buckets' files are carried into the
    # new snapshot by reference — zero copy.

    @staticmethod
    def _bucket_expr(bucket_col: str, n_buckets: int):
        from pyspark.sql import functions as F

        return F.pmod(
            F.crc32(F.col(bucket_col).cast("string")), F.lit(n_buckets)
        ).cast("int")

    def _entries(self, name: str) -> List[dict]:
        """Manifest entries normalized to {'path', 'bucket'} dicts (legacy
        entries are plain path strings with unknown bucket)."""
        manifest = self._manifest(name)
        out = []
        for e in manifest["data"]:
            if isinstance(e, str):
                out.append({"path": e, "bucket": None})
            else:
                out.append(e)
        return out

    def _entries_under(self, name: str, bucket_col: str,
                       n_buckets: int) -> List[dict]:
        """Manifest entries with bucket labels valid under the given layout.

        Labels written under a DIFFERENT (bucket_col, n_buckets) — or under
        no recorded bucketing at all — are demoted to bucket=None so the
        merge rereads those rows instead of trusting a stale modulus (an old
        row whose key hashes to a different bucket under the new layout
        would otherwise silently survive as a duplicate)."""
        recorded = self._manifest(name).get("bucketing")
        entries = self._entries(name)
        if recorded != {"col": bucket_col, "n": n_buckets}:
            return [{"path": e["path"], "bucket": None} for e in entries]
        return entries

    @staticmethod
    def _identity_expr(part_col: str):
        """Partition label = the column's own (integer) value — the layout
        for tables whose reads filter on a real data column (ANN bucket /
        centroid, FTS term_bucket). Unlike the crc32 hash layout, the data
        column itself stays in the files, so reads of individual labeled
        directories still see it."""
        from pyspark.sql import functions as F

        return F.col(part_col).cast("long")

    def _write_bucketed(self, spark: SparkSession, name: str, df: DataFrame,
                        bucket_col: str, n_buckets: int,
                        expr=None) -> List[dict]:
        """Write df hash-partitioned into bucket subdirectories; returns the
        manifest entries. partitionBy drops the synthetic bucket column from
        the data files, so the stored schema is unchanged. `expr` overrides
        the bucket expression (identity layout for partition-valued
        columns)."""
        from pyspark.sql import functions as F

        from kernel_memory_spark.functions.spark_hash import bucket_preimages

        d = self._new_data_dir(name)
        bucket_expr = (
            expr if expr is not None
            else self._bucket_expr(bucket_col, n_buckets)
        )
        # One shuffle of the incremental batch so each bucket writes as one
        # file instead of tasks x buckets small files (the ledger's footer
        # walk and the next merge's read both scale with file count; at
        # 100TB n_buckets is sized so a bucket ~= an executor write).
        #
        # Partition placement goes through a PREIMAGE column rather than the
        # bucket id itself: repartition(n, "__bucket") hashes n distinct
        # values into n partitions, which leaves ~1/e of the write tasks
        # EMPTY and stacks several whole buckets on the most-collided task
        # (the write's makespan). preimages[b] is chosen so Spark's own
        # shuffle hash places bucket b in partition b exactly — one
        # balanced wave, still one file per bucket. Buckets outside [0, n)
        # (identity layouts with sparse values) fall back to hashing the
        # raw id; NULL-keyed rows ride along unchanged.
        # bucket -> preimage as a literal-array lookup (F.get is 0-indexed
        # and NULL-safe on out-of-range), not a broadcast join: the join
        # cost a createDataFrame round-trip + BroadcastExchange +
        # BroadcastHashJoin per bucketed write for what is a pure
        # per-row int mapping. Buckets outside [0, n) (identity layouts
        # with sparse values) and NULL keys fall through to the raw id,
        # exactly as the old coalesce did.
        pre = F.lit(bucket_preimages(n_buckets))
        (
            df.withColumn("__bucket", bucket_expr)
            .withColumn(
                "__pkey",
                F.coalesce(F.get(pre, F.col("__bucket")), F.col("__bucket")),
            )
            .repartition(n_buckets, "__pkey")
            .drop("__pkey")
            .write.mode("overwrite").partitionBy("__bucket").parquet(d)
        )
        entries = []
        for sub in sorted(os.listdir(d)):
            if sub.startswith("__bucket="):
                val = sub.split("=", 1)[1]
                # NULL bucket keys land in __HIVE_DEFAULT_PARTITION__ — label
                # the entry bucket=None so every later merge rereads it
                # (NULL-keyed rows have no stable bucket) instead of
                # crashing the commit on int()
                entries.append({
                    "path": os.path.relpath(os.path.join(d, sub), self._dir(name)),
                    "bucket": (
                        None if val == "__HIVE_DEFAULT_PARTITION__" else int(val)
                    ),
                })
        return entries

    def merge_bucketed(self, spark: SparkSession, name: str, df: DataFrame,
                       key_cols: List[str], bucket_col: str,
                       n_buckets: int = 16,
                       anti_cols: Optional[List[str]] = None) -> int:
        """Upsert that rewrites only the hash-buckets `df` touches.

        `anti_cols` widens the replacement unit: with anti_cols=['doc_id'],
        ALL old rows of the touched documents are dropped before the new
        rows land — SaveRecordsHandler's DeletePreviousRecordsAsync + upsert
        (purge of superseded executions, J4/Q6) fused into the same
        bucket-scoped pass. Default (None) is plain key upsert.

        A table previously written unbucketed, or bucketed under a different
        (bucket_col, n_buckets) layout, is migrated by one full rewrite,
        after which merges are incremental.

        Requires bucket_col ∈ (anti_cols or key_cols): replacement is scoped
        to the buckets the input touches, so the replacement key must
        determine the bucket.

        Two-phase, write-first: (1) write the new rows bucketed — ONE
        execution of df's lineage (which may be an expensive UDF chain), and
        the written bucket= subdirectories ARE the touched-bucket set, no
        separate distinct+collect job; (2) if old buckets overlap, anti-join
        their rows against the just-written keys (a cheap columnar re-read of
        the new files) and write the survivors. A touched bucket then has ≤2
        entries (new + survivors) until its next merge compacts it."""
        bucketing = {"col": bucket_col, "n": n_buckets}
        msc = self.merges_since_compact(name) + 1 if self.exists(name) else 0
        new_entries = self._write_bucketed(spark, name, df, bucket_col,
                                           n_buckets)
        if not self.exists(name):
            return self._commit(name, new_entries, bucketing=bucketing)

        touched = {e["bucket"] for e in new_entries}
        entries = self._entries_under(name, bucket_col, n_buckets)
        untouched = [
            e for e in entries
            if e["bucket"] is not None and e["bucket"] not in touched
        ]
        reread = [
            e for e in entries
            if e["bucket"] is None or e["bucket"] in touched
        ]
        out = untouched + new_entries
        if reread:
            old_paths = [os.path.join(self._dir(name), e["path"])
                         for e in reread]
            new_paths = [os.path.join(self._dir(name), e["path"])
                         for e in new_entries]
            anti = anti_cols or key_cols
            # both re-reads under the incoming frame's schema: no inference
            # job, and survivors of files written before a nullable column
            # existed carry it as null instead of mixing schemas
            reader = spark.read.schema(df.schema)
            old_touched = reader.parquet(*old_paths)
            if new_paths:
                new_keys = reader.parquet(*new_paths).select(*anti).distinct()
                survivors = old_touched.join(new_keys, anti, "left_anti")
            else:
                survivors = old_touched
            out = out + self._write_bucketed(
                spark, name, survivors, bucket_col, n_buckets
            )
        return self._commit(name, out, bucketing=bucketing, msc=msc)

    # -- identity-partitioned merge (persisted-index maintenance) -------------
    #
    # ANN bucket tables and FTS postings are partitioned by a VALUE column
    # (LSH bucket, IVF centroid, term hash bucket) that is NOT a function of
    # the row key: a re-delivered vector can move to a different bucket, and
    # a re-tokenized document's postings move term buckets. merge_bucketed
    # can't serve them (it requires bucket = f(key)); these variants track
    # the partition VALUE in the manifest and rewrite only partitions that
    # (a) receive new rows or (b) contain replaced keys — the replaced-key
    # partitions are found with one column-pruned scan of (key, part) over
    # the labeled entries, the manifest-level analog of Iceberg MERGE INTO
    # on an identity-partitioned table.

    def overwrite_partitioned(self, spark: SparkSession, name: str,
                              df: DataFrame, part_col: str,
                              n_parts: int) -> int:
        """Full (re)write of a table identity-partitioned on an int column;
        every manifest entry carries its partition value, so probes via
        read_buckets prune at the manifest without listing a single
        untouched partition's files."""
        entries = self._write_bucketed(
            spark, name, df, part_col, n_parts,
            expr=self._identity_expr(part_col),
        )
        return self._commit(
            name, entries,
            bucketing={"col": part_col, "n": n_parts, "mode": "identity"},
        )

    def merge_partitioned(self, spark: SparkSession, name: str, df: DataFrame,
                          key_cols: List[str], part_col: str, n_parts: int,
                          replaced_parts=None) -> int:
        """Upsert into an identity-partitioned table, rewriting only touched
        partitions. I/O is O(touched partitions) + one column-pruned
        (key, part) scan to locate replaced keys — NOT O(index) like a full
        overwrite (round-3 verdict item #1).

        `replaced_parts` short-circuits the replaced-key lookup when the
        caller already knows which partitions hold superseded rows (pass an
        empty set for pure-insert batches — e.g. the FTS upsert checks its
        doc-length sidecar first); None means "unknown, go look".

        A table previously written under a different layout (plain
        overwrite with hive partition_by, or hash bucketing) is migrated by
        one full rewrite, after which merges are incremental."""
        bucketing = {"col": part_col, "n": n_parts, "mode": "identity"}
        msc = self.merges_since_compact(name) + 1 if self.exists(name) else 0
        new_entries = self._write_bucketed(
            spark, name, df, part_col, n_parts,
            expr=self._identity_expr(part_col),
        )
        if not self.exists(name):
            return self._commit(name, new_entries, bucketing=bucketing)

        recorded = self._manifest(name).get("bucketing")
        entries = self._entries(name)
        if recorded != bucketing:
            # foreign layout: labels (if any) were computed under different
            # rules — demote everything to reread (one-time migration)
            entries = [{"path": e["path"], "bucket": None} for e in entries]

        touched = {e["bucket"] for e in new_entries if e["bucket"] is not None}
        labeled = [e for e in entries if e["bucket"] is not None]
        if not new_entries:
            replaced_parts = replaced_parts or set()  # empty batch
        if labeled and replaced_parts is None:
            # keys can MOVE partitions between versions: locate old rows of
            # the incoming keys with a column-pruned scan (key + part cols
            # only — at 100TB this reads two thin columns, not the payload)
            old_kp = spark.read.parquet(*[
                os.path.join(self._dir(name), e["path"]) for e in labeled
            ]).select(*key_cols, part_col)
            new_keys = spark.read.parquet(*[
                os.path.join(self._dir(name), e["path"]) for e in new_entries
            ]).select(*key_cols).distinct()
            replaced_parts = {
                int(r[0]) for r in old_kp.join(new_keys, key_cols, "left_semi")
                .select(part_col).distinct().collect()
                if r[0] is not None
            }
        touched |= set(replaced_parts or ())

        untouched = [e for e in labeled if e["bucket"] not in touched]
        reread = [
            e for e in entries
            if e["bucket"] is None or e["bucket"] in touched
        ]
        out = untouched + new_entries
        if reread:
            old_paths = [os.path.join(self._dir(name), e["path"])
                         for e in reread]
            new_paths = [os.path.join(self._dir(name), e["path"])
                         for e in new_entries]
            old_touched = spark.read.parquet(*old_paths)
            if new_paths:
                new_keys = spark.read.parquet(*new_paths)\
                    .select(*key_cols).distinct()
                survivors = old_touched.join(new_keys, key_cols, "left_anti")
            else:
                survivors = old_touched
            out = out + self._write_bucketed(
                spark, name, survivors, part_col, n_parts,
                expr=self._identity_expr(part_col),
            )
        return self._commit(name, out, bucketing=bucketing, msc=msc)

    def delete_keys_partitioned(self, spark: SparkSession, name: str,
                                key_col: str, keys: List) -> int:
        """Delete rows by key from an identity-partitioned table, rewriting
        only the partitions that contain those keys (located by the same
        column-pruned (key, part) scan as merge_partitioned). Falls back to
        a full-rewrite delete on foreign layouts."""
        from pyspark.sql import functions as F

        recorded = self._manifest(name).get("bucketing")
        if not recorded or recorded.get("mode") != "identity":
            return self.delete_where(
                spark, name, F.col(key_col).isin(list(keys))
            )
        part_col, n_parts = recorded["col"], recorded["n"]
        entries = self._entries(name)
        labeled = [e for e in entries if e["bucket"] is not None]
        unlabeled = [e for e in entries if e["bucket"] is None]
        touched = set()
        if labeled:
            kp = spark.read.parquet(*[
                os.path.join(self._dir(name), e["path"]) for e in labeled
            ]).select(key_col, part_col)
            touched = {
                int(r[0]) for r in kp.filter(
                    F.col(key_col).isin(list(keys))
                ).select(part_col).distinct().collect()
                if r[0] is not None
            }
        untouched = [e for e in labeled if e["bucket"] not in touched]
        reread = unlabeled + [e for e in labeled if e["bucket"] in touched]
        out = list(untouched)
        if reread:
            paths = [os.path.join(self._dir(name), e["path"]) for e in reread]
            survivors = spark.read.parquet(*paths).filter(
                ~F.col(key_col).isin(list(keys))
            )
            out += self._write_bucketed(
                spark, name, survivors, part_col, n_parts,
                expr=self._identity_expr(part_col),
            )
        return self._commit(
            name, out,
            bucketing={"col": part_col, "n": n_parts, "mode": "identity"},
        )

    def delete_where(self, spark: SparkSession, name: str, condition) -> int:
        """Delete rows matching a Column condition (purge, J4/Q6).
        Full rewrite — use delete_keys when deleting by the bucket column."""
        old = self.read(spark, name)
        return self.overwrite(old.filter(~condition), name)

    def delete_keys(self, spark: SparkSession, name: str, key_col: str,
                    keys: List[str]) -> int:
        """Delete all rows whose key_col is in `keys`, rewriting only the
        buckets those keys hash to when the table is bucketed on key_col
        (zlib.crc32 == Spark's crc32 == java.util.zip.CRC32, so the driver
        computes the touched buckets with zero Spark jobs). Falls back to a
        full-rewrite delete_where on unbucketed/mismatched tables."""
        import zlib

        from pyspark.sql import functions as F

        recorded = self._manifest(name).get("bucketing")
        if not recorded or recorded["col"] != key_col:
            return self.delete_where(
                spark, name, F.col(key_col).isin(list(keys))
            )
        n = recorded["n"]
        touched = {zlib.crc32(str(k).encode("utf-8")) % n for k in keys}
        entries = self._entries(name)
        untouched = [
            e for e in entries
            if e["bucket"] is not None and e["bucket"] not in touched
        ]
        reread = [
            e for e in entries
            if e["bucket"] is None or e["bucket"] in touched
        ]
        out = list(untouched)
        if reread:
            paths = [os.path.join(self._dir(name), e["path"]) for e in reread]
            survivors = spark.read.parquet(*paths).filter(
                ~F.col(key_col).isin(list(keys))
            )
            out += self._write_bucketed(spark, name, survivors, key_col, n)
        return self._commit(name, out, bucketing=recorded)

    def compact(self, spark: SparkSession, name: str,
                max_entries_per_bucket: int = 1,
                row_filter=None) -> int:
        """Fold buckets that accumulated multiple manifest entries (the
        write-first merge leaves <=2 per touched bucket: new rows +
        survivors) back to one file each. Only over-threshold buckets are
        rewritten; single-entry buckets carry by reference. The Iceberg
        analog is rewrite_data_files; run it off the ingest path.

        `row_filter` (a Column predicate) drops rows from the REWRITTEN
        buckets — for purging rows whose presence is semantically a no-op
        (e.g. the co-occurrence index's zero-count tombstones). Rows in
        untouched buckets survive until their bucket's next compaction,
        which is fine precisely because such rows are no-ops."""
        from collections import Counter

        recorded = self._manifest(name).get("bucketing")
        if not recorded:
            # unbucketed table: compaction = plain rewrite into one dir
            df = self.read(spark, name)
            if row_filter is not None:
                df = df.filter(row_filter)
            return self.overwrite(df, name)
        entries = self._entries(name)
        per_bucket = Counter(e["bucket"] for e in entries)
        crowded = {
            b for b, n in per_bucket.items()
            if b is None or n > max_entries_per_bucket
        }
        if not crowded:
            # nothing to rewrite, but reset the merge counter (manifest-only
            # commit) so an msc-triggered caller doesn't re-fire every batch
            if self._manifest(name).get("msc"):
                return self._commit(name, entries, bucketing=recorded)
            return self.current_version(name)
        keep = [e for e in entries if e["bucket"] not in crowded]
        rewrite = [e for e in entries if e["bucket"] in crowded]
        paths = [os.path.join(self._dir(name), e["path"]) for e in rewrite]
        # identity-layout tables must re-label by VALUE, not by hash —
        # hash labels under an identity bucketing record would corrupt
        # every later manifest-pruned read
        expr = (
            self._identity_expr(recorded["col"])
            if recorded.get("mode") == "identity" else None
        )
        survivors = spark.read.parquet(*paths)
        if row_filter is not None:
            survivors = survivors.filter(row_filter)
        out = keep + self._write_bucketed(
            spark, name, survivors,
            recorded["col"], recorded["n"], expr=expr,
        )
        return self._commit(name, out, bucketing=recorded)

    def max_entries_per_bucket(self, name: str) -> int:
        """Largest manifest-entry count any single bucket has accumulated —
        the small-file pressure signal for auto_compact (appends land as
        unlabeled entries and pile up here; write-first merges self-fold to
        <=2 per touched bucket, so merge debt is tracked by the msc counter
        instead). Pure driver-side manifest read; no Spark job, no file I/O
        beyond the manifest."""
        from collections import Counter

        entries = self._entries(name)
        if not entries:
            return 0
        return max(Counter(e["bucket"] for e in entries).values())

    def merges_since_compact(self, name: str) -> int:
        """Merge commits since the table was last compacted (or created).
        Free driver-side manifest read. This is the trigger signal for
        maintenance debt that file counts can't see: each write-first merge
        folds its touched buckets back to <=2 entries but may leave no-op
        ROWS behind (the co-occurrence index's zero-count tombstones), and
        re-splits survivors into ever-smaller files."""
        if not self.exists(name):
            return 0
        return int(self._manifest(name).get("msc", 0))

    def auto_compact(self, spark: SparkSession, name: str,
                     threshold: int = 8, row_filter=None,
                     max_entries_per_bucket: int = 1) -> bool:
        """Compact `name` iff maintenance debt crossed `threshold`: more
        than `threshold` merges since the last compaction, or some bucket
        holding more than `threshold` manifest entries (append debt).
        Returns whether a compaction ran. Both checks are free manifest
        scans, so this can run after every micro-batch: the rewrite is paid
        once per ~threshold merges, bounding tombstone rows, file count,
        and amortized maintenance I/O. The Iceberg analog is a
        rewrite_data_files trigger on small-file count.

        `max_entries_per_bucket` selects minor vs major compaction: the
        default 1 folds only multi-entry buckets (cheap, file-count
        maintenance); 0 rewrites EVERY bucket — required when `row_filter`
        must reach rows parked in single-entry buckets (tombstone purge).
        A major pass is O(table) per trigger, so size `threshold` so it
        amortizes (Iceberg's minor vs major rewrite_data_files split)."""
        if not self.exists(name):
            return False
        if (self.merges_since_compact(name) <= threshold
                and self.max_entries_per_bucket(name) <= threshold):
            return False
        self.compact(spark, name, row_filter=row_filter,
                     max_entries_per_bucket=max_entries_per_bucket)
        return True

    def drop(self, name: str) -> None:
        shutil.rmtree(self._dir(name), ignore_errors=True)


def _parquet_file_counts(root: str) -> list:
    """(file, num_rows) per parquet part file under root, from footers only —
    no Spark job. Used for step-ledger metrics: the written files ARE the
    per-partition lineage."""
    import pyarrow.parquet as pq

    out = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out.append((p, pq.ParquetFile(p).metadata.num_rows))
    return out


def table_file_counts(catalog: "TableCatalog", name: str) -> list:
    manifest = catalog._manifest(name)
    counts = []
    for d in manifest["data"]:
        counts.extend(
            _parquet_file_counts(
                os.path.join(catalog._dir(name), catalog._entry_path(d))
            )
        )
    return counts


def table_columns(catalog: "TableCatalog", name: str) -> List[str]:
    """Column names of `name` from one parquet footer — no Spark job."""
    import pyarrow.parquet as pq

    for e in catalog._entries(name):
        root = os.path.join(catalog._dir(name), e["path"])
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.endswith(".parquet"):
                    return pq.read_schema(os.path.join(dirpath, fn)).names
    return []


def table_row_count(catalog: "TableCatalog", name: str) -> int:
    return sum(n for _, n in table_file_counts(catalog, name))


def commit_union(catalog: "TableCatalog", name: str, sources: List[str]) -> int:
    """Zero-copy union commit: `name` becomes a snapshot over the data
    directories of the source tables (no rewrite — the Iceberg-style trick
    of composing a table from existing immutable files). Sources must share
    a schema."""
    import os as _os

    dirs = []
    for src in sources:
        manifest = catalog._manifest(src)
        for d in manifest["data"]:
            abs_d = _os.path.join(catalog._dir(src), catalog._entry_path(d))
            dirs.append(_os.path.relpath(abs_d, catalog._dir(name)))
    _os.makedirs(catalog._dir(name), exist_ok=True)
    return catalog._commit(name, dirs)


def append_rows_local(catalog: "TableCatalog", name: str, rows: List[dict],
                      arrow_schema) -> int:
    """Append a small batch of driver-side rows (metadata like the step
    ledger) as a parquet file written directly with pyarrow — a metadata
    commit must not cost a distributed job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = catalog._new_data_dir(name)
    os.makedirs(d, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=arrow_schema)
    pq.write_table(table, os.path.join(d, "part-0.parquet"))
    rel = os.path.relpath(d, catalog._dir(name))
    prev = catalog._manifest(name)["data"] if catalog.exists(name) else []
    return catalog._commit(name, prev + [rel])
