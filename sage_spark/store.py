"""Parquet-backed table store with idempotent key-based upsert.

Production target is Iceberg (``MERGE INTO documents USING updates ON
doc_id`` etc. — SURVEY.md §2.1 S8-S15); this container has no Iceberg
runtime jars, so the same contract is provided over plain parquet.
All row identities are content hashes (doc_id/claim_id/fact_id), so re-running
any partition of any stage and upserting again is a no-op — that is the
checkpoint/resume story the north rule requires.

Layout: rows live in ``__bucket=K/`` partition dirs keyed by xxhash64 of
the upsert key (16 buckets unless the caller picks another count). An upsert
reads ONLY the buckets its updates hash into (partition pruning on the scan)
and rewrites ONLY those bucket dirs (dynamic partition overwrite) — per-batch
cost scales with the batch's touched buckets, not the store, which is the
parquet analog of an Iceberg MERGE at 10^12-row store scale. Every bucketed
write clusters its rows on the bucket first, so each touched bucket dir is
rewritten by one task into exactly one file: a long ingest never fragments
the dirs. Each table records its bucket count and hash keys (always its
upsert keys) in ``_LAYOUT.json``; upserts and compaction refuse a table
whose record is missing (written flat, or externally) or differs from the
store's, while plain ``read`` still serves it. Iceberg additionally gives atomic
snapshot commits; dynamic overwrite swaps each touched bucket dir
non-atomically, an accepted stand-in here.

Full-table writes go to a temp dir then swap, so a killed job never leaves a
half-written table.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "__bucket"
LAYOUT_FILE = "_LAYOUT.json"


class TableStore:
    def __init__(self, root: str | Path, *, buckets: int = 16) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.buckets = buckets

    def path(self, table: str) -> Path:
        return self.root / table

    def exists(self, table: str) -> bool:
        self._recover(table)
        return self.path(table).exists()

    def list_tables(self) -> list[str]:
        """Published table names: every table dir in the store root, with
        swap/compaction staging dirs (``name.__tmp__`` etc.) and hidden
        working dirs (``_staging`` and friends — the parquet hidden-path
        convention) excluded."""
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and ".__" not in p.name and not p.name.startswith(("_", "."))
        )

    # -- crash recovery ----------------------------------------------------
    def _recover(self, table: str) -> None:
        """Heal the two-step swap windows (overwrite/compact rename the old
        table aside before publishing the new one). If a crash left the
        table path absent, restore it from, in order of preference:

        * ``.__old__`` — the pre-swap table, always complete by construction;
        * a COMPLETE staged dir (``.__tmp__``/``.__compact__`` carrying
          Spark's ``_SUCCESS`` marker) — the post-swap content.

        Without this, a killed compaction made ``read`` silently return an
        empty table and a later upsert recreated it fresh — permanent data
        loss with no error (round-4 advice, store.py compact window)."""
        target = self.path(table)
        if target.exists():
            return
        aside = target.with_name(target.name + ".__old__")
        if aside.exists():
            aside.rename(target)
            return
        for suffix in (".__compact__", ".__tmp__"):
            staged = target.with_name(target.name + suffix)
            if staged.exists() and (staged / "_SUCCESS").exists():
                staged.rename(target)
                return

    def _swap_in(self, tmp: Path, target: Path) -> None:
        """Publish ``tmp`` as ``target`` without a window where the table
        path is absent-and-unrecoverable: rename the old table aside, then
        the new one into place, then drop the aside. A crash at any point
        leaves either the target or a recoverable aside/staged dir for
        ``_recover``."""
        aside = target.with_name(target.name + ".__old__")
        if aside.exists():  # stale from an earlier crash; target exists, so it lost
            shutil.rmtree(aside)
        if target.exists():
            target.rename(aside)
        tmp.rename(target)
        if aside.exists():
            shutil.rmtree(aside)

    # -- layout metadata ---------------------------------------------------
    def _write_layout(self, target: Path, keys: list[str]) -> None:
        (target / LAYOUT_FILE).write_text(
            json.dumps({"version": 1, "buckets": self.buckets, "layout_keys": keys})
        )

    def _read_layout(self, table: str) -> dict:
        """The table's layout record; a table without one (written flat,
        before layout versioning, or externally) fails loudly rather than
        being merged into or compacted as if its dirs were hashed."""
        p = self.path(table) / LAYOUT_FILE
        if not p.exists():
            raise ValueError(
                f"table {table!r} has no {LAYOUT_FILE}: it predates layout "
                "versioning (or was written externally); rebuild it (read, drop, "
                "upsert its rows) before upserting into or compacting it"
            )
        return json.loads(p.read_text())

    def _check_layout(self, table: str, keys: list[str]) -> None:
        """The touched-bucket merge is only correct if every writer hashes
        the same key columns into the same bucket count; a silent mismatch
        reads and rewrites the WRONG dirs, leaving stale duplicates of the
        updated keys. Fail loudly instead."""
        rec = self._read_layout(table)
        if rec["buckets"] != self.buckets or rec["layout_keys"] != keys:
            raise ValueError(
                f"bucketed table {table!r} layout mismatch: stored "
                f"(buckets={rec['buckets']}, keys={rec['layout_keys']}) vs requested "
                f"(buckets={self.buckets}, keys={keys}); merging into a "
                "differently-hashed layout would silently miss rows"
            )

    def read(self, spark: SparkSession, table: str, schema: StructType | None = None) -> DataFrame:
        if not self.exists(table):
            if schema is None:
                raise FileNotFoundError(f"table {table} does not exist and no schema given")
            return spark.createDataFrame([], schema)
        df = spark.read.parquet(str(self.path(table)))
        # bucketed tables surface the partition dir as a column; the layout
        # is an implementation detail, not part of the table contract
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def overwrite(self, df: DataFrame, table: str) -> None:
        self._recover(table)
        target = self.path(table)
        tmp = target.with_name(target.name + ".__tmp__")
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp))
        self._swap_in(tmp, target)

    def _bucket_expr(self, keys: list[str]) -> Column:
        key = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
        return F.pmod(F.xxhash64(key), F.lit(self.buckets)).cast("int")

    def upsert(self, df: DataFrame, table: str, keys: list[str]) -> None:
        """Iceberg-MERGE-equivalent: updates win over existing rows on key.

        Rows are hashed into bucket dirs by ``keys``, so every version of a
        key lands in the same dir. Reads and rewrites only the bucket dirs
        the updates hash into: the scan prunes untouched ``__bucket=K/``
        partitions and the write uses dynamic partition overwrite, so
        per-batch IO is O(touched buckets).
        """
        spark = df.sparkSession
        # pin the lineage before it is consumed twice (the existing-bucket
        # filter and the merge write): a nondeterministic upstream must not
        # emit rows into a bucket absent from `touched`, or dynamic overwrite
        # would drop that bucket's pre-existing rows. The checkpoint's own
        # pass also observes the row count and the touched-bucket set (a
        # bounded scalar set, <= self.buckets), so neither costs a job.
        # Callers observe `df` too (run_pipeline counts its upsert inputs):
        # keep the bucket repartition out of this pass, since adaptive
        # execution drops an empty subtree below a repartition together with
        # the metrics observed inside it.
        seen = Observation()
        updates = (
            df.dropDuplicates(keys)
            .withColumn(BUCKET_COL, self._bucket_expr(keys))
            .observe(seen, F.count(F.lit(1)).alias("rows"), F.collect_set(BUCKET_COL).alias("touched"))
            .localCheckpoint(eager=True)
        )
        stats = seen.get
        rows, touched = stats["rows"], sorted(stats["touched"])
        self._recover(table)
        target = self.path(table)
        if not target.exists():
            if not rows:
                # creating a table from zero rows would write a partitioned
                # dir with no parquet files (unreadable) — an empty batch
                # against an absent table is a no-op instead
                return
            tmp = target.with_name(target.name + ".__tmp__")
            if tmp.exists():
                shutil.rmtree(tmp)
            self._write_buckets(updates, tmp)
            # layout rides inside tmp BEFORE the publish rename: a crash
            # after the rename (or a _recover that adopts this staged dir)
            # must never yield a bucketed table without its layout record
            self._write_layout(tmp, keys)
            tmp.rename(target)
            return
        self._check_layout(table, keys)
        if not rows:
            return
        existing = (
            spark.read.parquet(str(target)).filter(F.col(BUCKET_COL).isin(touched))
        )
        kept = existing.join(updates.select(*keys), on=keys, how="left_anti")
        merged = kept.unionByName(updates, allowMissingColumns=True)
        self._write_buckets(merged, target, dynamic=True)

    @staticmethod
    def _write_buckets(df: DataFrame, path: Path, *, dynamic: bool = False) -> None:
        """Partitioned write with each bucket's rows clustered into one task:
        hash-repartitioning ON the bucket value makes every task own whole
        buckets (adaptive execution may merge small partitions, never split
        one), so each ``__bucket=K/`` dir the write touches is written by
        exactly one task into exactly one file. ``dynamic`` replaces only
        the bucket dirs present in ``df``."""
        writer = df.repartition(F.col(BUCKET_COL)).write.mode("overwrite")
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.partitionBy(BUCKET_COL).parquet(str(path))

    def compact(self, spark: SparkSession, table: str) -> None:
        """Maintenance rewrite (Iceberg's rewrite_data_files analog). Every
        write through the store leaves one file per bucket dir; dirs that
        hold more (laid down by a store version that did not cluster its
        writes on the bucket, or given files from outside the store) cost
        scan time per file. Compaction rewrites the table so each bucket dir
        holds one file (rows and bucket assignment unchanged), via a temp
        dir + rename-aside swap so a killed compaction never corrupts the
        table: the old table is renamed aside before the new one lands and
        ``_recover`` restores whichever complete copy survives a crash.
        A table without a layout record raises instead of being rewritten."""
        self._recover(table)
        target = self.path(table)
        if not target.exists():
            return
        layout = self._read_layout(table)
        df = spark.read.parquet(str(target))
        tmp = target.with_name(target.name + ".__compact__")
        if tmp.exists():
            shutil.rmtree(tmp)
        self._write_buckets(df, tmp)
        # the layout record rides along through the rewrite
        (tmp / LAYOUT_FILE).write_text(json.dumps(layout))
        self._swap_in(tmp, target)

    def drop(self, table: str) -> None:
        target = self.path(table)
        for p in (
            target,
            target.with_name(target.name + ".__old__"),
            target.with_name(target.name + ".__tmp__"),
            target.with_name(target.name + ".__compact__"),
        ):
            if p.exists():
                shutil.rmtree(p)

