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
upsert keys) in ``_LAYOUT.json``; upserts refuse a table whose record is
missing (written flat, or externally) or differs from the store's, while
plain ``read`` still serves it. Iceberg additionally gives atomic snapshot
commits; dynamic overwrite swaps each touched bucket dir non-atomically, an
accepted stand-in here.

A table is published one way: the upsert that creates it writes
``name.__tmp__`` (bucket files, then the layout record) and renames it into
place. A job killed before that rename leaves a staged dir that the next
access adopts if it holds its layout record (the data is complete) and the
next create rewrites otherwise. ``overwrite`` is a plain Spark overwrite for
run-scoped scratch (``_staging/{run_id}/...``), which a replay under the same
run id rewrites.
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
        staged creates (``name.__tmp__``, and any other ``.__`` name) and
        hidden working dirs (``_staging`` and friends — the parquet
        hidden-path convention) excluded."""
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and ".__" not in p.name and not p.name.startswith(("_", "."))
        )

    # -- crash recovery ----------------------------------------------------
    def _recover(self, table: str) -> None:
        """Finish a create upsert killed between its staged write and the
        publish rename: adopt ``name.__tmp__`` when it holds the layout
        record, which ``upsert`` writes after the bucket files, so the data
        is complete. A staged dir without it stays for the next create to
        delete and rewrite."""
        target = self.path(table)
        staged = target.with_name(target.name + ".__tmp__")
        if not target.exists() and (staged / LAYOUT_FILE).exists():
            staged.rename(target)

    # -- layout metadata ---------------------------------------------------
    def _write_layout(self, target: Path, keys: list[str]) -> None:
        (target / LAYOUT_FILE).write_text(
            json.dumps({"version": 1, "buckets": self.buckets, "layout_keys": keys})
        )

    def _read_layout(self, table: str) -> dict:
        """The table's layout record; a table without one (written flat,
        before layout versioning, or externally) fails loudly rather than
        being merged into as if its dirs were hashed."""
        p = self.path(table) / LAYOUT_FILE
        if not p.exists():
            raise ValueError(
                f"table {table!r} has no {LAYOUT_FILE}: it predates layout "
                "versioning (or was written externally); rebuild it (read, drop, "
                "upsert its rows) before upserting into it"
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
        """Unbucketed scratch write (no layout record, so never upserted
        into); a killed write is redone by the replay that rewrites it."""
        df.write.mode("overwrite").parquet(str(self.path(table)))

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
            # the layout record lands last: _recover adopts a staged dir
            # only when it holds one, so its bucket files are complete
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

    def drop(self, table: str) -> None:
        target = self.path(table)
        for p in (target, target.with_name(target.name + ".__tmp__")):
            if p.exists():
                shutil.rmtree(p)

