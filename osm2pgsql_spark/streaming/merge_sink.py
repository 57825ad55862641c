"""MERGE-shaped append sink: delete-before-insert on a keyed table.

Reference semantics: each diff batch deletes the touched ids from the
output tables and re-inserts the new versions
(/root/reference/src/db-copy.hpp:76-138 delete batches +
/root/reference/src/output-flex.cpp:1266-1282).  At Spark scale the
same contract is a MERGE INTO keyed by id; on Delta/Iceberg it is

    MERGE INTO snapshot USING diff ON snapshot.id = diff.id
    WHEN MATCHED AND diff.op = 'delete' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND diff.op != 'delete' THEN INSERT *

Those table formats are not in this container, so ParquetMergeTable
implements the identical access pattern on hash-bucketed parquet:
the table is partitioned by pmod(xxhash64(id), num_buckets) and a
merge rewrites ONLY the partitions containing touched ids — the work
per diff is proportional to touched data, not table size, which is
the property that matters at 100 TB.  (What Delta would add on top is
snapshot isolation / atomic commit; the physical plan — partition
prune -> anti-join -> union -> partition overwrite — is the same.)

On disk a table is ``<path>/__bucket=<b>/*.parquet`` plus a
``_schema.json`` sidecar.  Every write rebalances its rows by bucket
first, so a bucket is one task's file, not one file per input task —
like the reference's one COPY stream per middle table
(src/middle-pgsql.cpp:1040-1044).  REBALANCE, not a plain repartition,
because AQE also splits a bucket above its advisory partition size over
several tasks, so write parallelism at scale is not capped at the
bucket count.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2pgsql_spark.streaming.append import apply_diff

_BUCKET = "__bucket"


class ParquetMergeTable:
    """A keyed snapshot table with MERGE-style diff application: one
    parquet file per hash bucket of ``id_col`` (more only for a bucket
    above AQE's advisory partition size)."""

    def __init__(self, path: str, id_col: str = "id", num_buckets: int = 16) -> None:
        self.path = path
        self.id_col = id_col
        self.num_buckets = num_buckets

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            _BUCKET, F.pmod(F.xxhash64(F.col(self.id_col)), F.lit(self.num_buckets))
        )

    def _write_buckets(self, df: DataFrame, path: str) -> None:
        self._bucketed(df).hint("rebalance", _BUCKET).write.partitionBy(
            _BUCKET
        ).mode("overwrite").parquet(path)

    def write_full(self, df: DataFrame) -> None:
        """Initial import: full overwrite, hash-partitioned by id."""
        self._write_buckets(df, self.path)
        # schema sidecar so a fully-emptied table stays readable
        with open(os.path.join(self.path, "_schema.json"), "w", encoding="utf-8") as fh:
            fh.write(df.schema.json())

    def read(self, spark: SparkSession) -> DataFrame:
        self.recover()  # finish any interrupted swap before scanning
        if not glob.glob(os.path.join(self.path, f"{_BUCKET}=*", "*.parquet")):
            from pyspark.sql import types as T

            with open(
                os.path.join(self.path, "_schema.json"), encoding="utf-8"
            ) as fh:
                schema = T.StructType.fromJson(json.load(fh))
            return spark.createDataFrame([], schema)
        return spark.read.parquet(self.path).drop(_BUCKET)

    def merge_diff(
        self, spark: SparkSession, diff: DataFrame, order_col: str | None = None
    ) -> list[int]:
        """Apply one diff batch (entity rows + `op` column) as a MERGE.

        Only partitions whose bucket contains a touched id are read
        and rewritten (partition pruning on the scan side, dynamic
        partition overwrite on the write side).  Returns the list of
        rewritten bucket ids (useful for tests/metrics).
        """
        return self._merge_buckets(
            spark,
            diff.select(self.id_col),
            lambda base: apply_diff(base, diff, self.id_col, order_col),
        )

    def merge_refresh(
        self,
        spark: SparkSession,
        touched_keys: DataFrame,
        new_rows: DataFrame,
        key_cols: list[str] | None = None,
    ) -> list[int]:
        """OUTPUT-table MERGE: delete every row whose key tuple
        appears in `touched_keys`, insert `new_rows`.

        merge_diff is a snapshot upsert (one row per id — the middle
        contract); output tables may carry SEVERAL rows per object id
        (split_multi parts, multi-table routing), so here the delete
        is an anti-join on the full key tuple and the insert a plain
        union.  Buckets hash self.id_col (the numeric id), which must
        be one of key_cols; pruning covers both sides because every
        inserted row's id is also a touched id.  Same journaled
        staged-swap commit as merge_diff."""
        key_cols = key_cols or [self.id_col]
        keys = touched_keys.select(*key_cols).unionByName(
            new_rows.select(*key_cols)
        ).distinct()
        return self._merge_buckets(
            spark,
            keys,
            lambda base: base.join(keys, key_cols, "left_anti")
            .unionByName(new_rows),
        )

    def _merge_buckets(self, spark: SparkSession, ids: DataFrame, merge) -> list[int]:
        """Rewrite the buckets of the ids in `ids` as `merge(base)`,
        where base is the current rows of those buckets, and commit
        them by the journaled staged swap.  Returns the bucket ids."""
        self.recover()  # finish any interrupted prior swap first
        touched = sorted(
            int(r[_BUCKET])
            for r in self._bucketed(ids).select(_BUCKET).distinct().collect()
        )
        if not touched:
            return []
        if glob.glob(os.path.join(self.path, f"{_BUCKET}=*", "*.parquet")):
            base = (
                spark.read.parquet(self.path)
                .where(F.col(_BUCKET).isin(touched))
                .drop(_BUCKET)
            )
        else:
            # fully-emptied table: only _schema.json remains, so direct
            # parquet reading would die on schema inference
            base = self.read(spark)

        # a path cannot be safely overwritten while it is also the
        # scan source; stage the rewritten partitions in a temp dir,
        # then swap the touched partition directories.  The swap is
        # NOT atomic (plain filesystem), so it is journaled: a marker
        # file written before the first move lists the touched buckets
        # and is removed only after the staging dir is gone.  The
        # per-bucket move is idempotent (rm dst; move src if present),
        # so recover() can re-run the loop after a crash at any point.
        tmp = self.path + ".merge-tmp"
        self._write_buckets(merge(base), tmp)
        # `staged` (buckets with rows in tmp) recorded in the journal
        # disambiguates recovery: a staged bucket whose src is gone was
        # already moved (keep dst); an unstaged bucket was emptied by
        # the merge (dst must be removed) — without it the two states
        # are indistinguishable after a crash.
        staged = [
            b for b in touched if os.path.isdir(os.path.join(tmp, f"{_BUCKET}={b}"))
        ]
        self._write_marker({"touched": touched, "staged": staged})
        self._swap_from_tmp(tmp, touched, set(staged))
        return touched

    def _marker_path(self) -> str:
        return os.path.join(self.path, "_merge_inprogress.json")

    def _write_marker(self, payload: dict) -> None:
        """Journal marker commit is write-beside + atomic rename: a
        crash at ANY byte of the write leaves `marker.tmp` (which
        recover() discards) — never a torn marker at the journal path.
        os.replace is atomic on POSIX, so the marker is either fully
        durable or absent, and no bucket moves before it is durable
        (the swap loop runs strictly after this returns)."""
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._marker_path())

    def _swap_from_tmp(self, tmp: str, touched, staged: set) -> None:
        for b in touched:
            dst = os.path.join(self.path, f"{_BUCKET}={b}")
            src = os.path.join(tmp, f"{_BUCKET}={b}")
            if int(b) in staged:
                if os.path.isdir(src):
                    shutil.rmtree(dst, ignore_errors=True)
                    shutil.move(src, dst)
                # else: already moved on a previous attempt — keep dst
            else:
                # emptied bucket: stays removed (idempotent)
                shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        marker = self._marker_path()
        if os.path.exists(marker):
            os.remove(marker)

    def recover(self) -> bool:
        """Complete a merge swap interrupted mid-flight (journal marker
        present).  Returns True if a recovery was performed.  Safe to
        call unconditionally before read()/merge_diff(); every step of
        the swap loop is idempotent, so re-running it from the journal
        finishes the commit regardless of where the crash hit."""
        marker = self._marker_path()
        stale = marker + ".tmp"
        if os.path.exists(stale):
            # crash mid-marker-write: the rename never happened, so the
            # journal was never durable and no bucket was moved — the
            # half-written tmp is garbage from an aborted commit.
            os.remove(stale)
        if not os.path.exists(marker):
            return False
        try:
            with open(marker, encoding="utf-8") as fh:
                j = json.load(fh)
        except (json.JSONDecodeError, UnicodeDecodeError, ValueError):
            # Torn/corrupt marker (pre-atomic writer, fs damage).  The
            # swap loop starts only after the marker is durable, so an
            # unparseable marker means the swap never began: the table
            # still holds the intact OLD state.  Discard the marker and
            # the staging dir; the caller re-applies the batch.
            os.remove(marker)
            shutil.rmtree(self.path + ".merge-tmp", ignore_errors=True)
            return True
        self._swap_from_tmp(
            self.path + ".merge-tmp", j["touched"], set(j.get("staged", []))
        )
        return True
