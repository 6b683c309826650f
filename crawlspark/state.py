"""Per-partition checkpointed crawl state with exact resume (SURVEY.md §2 A6,
BASELINE.json:6 "crawl state checkpointed per partition for exact resume").

Layout under a state root (parquet locally; Iceberg tables in production —
the schemas are identical, see io.py TableIO):

    frontier/wave=K/      pending-set snapshot — written at bootstrap and at
                          periodic REBASE points only; between rebases the
                          live frontier is the merge-on-read view
                          base ∪ frontier_add − retired, so a wave writes
                          O(changes), never O(live set)
    frontier_add/wave=K/  append-only delta: rows that became pending at K
    retired/wave=K/       append-only delta: rows fetched (done) or blocked
                          by wave K — also the frontier's equality-delete log
    crawl_log/wave=K/     append-only delta (fetches of wave K)
    spans/wave=K/         append-only delta (span rows emitted by wave K)
    host_counts/wave=K/   per-host fetched-so-far counts (n_hosts rows)
    seen/wave=K/          exact mode: delta of new url_h
    seen_bloom/wave=K/    bloom mode: full shard blobs (small: P x m/8 bytes)
    seen_cuckoo/wave=K/   cuckoo mode: full shard tables
    manifest-K.json       commit marker, written LAST via atomic rename

A wave is visible iff its manifest exists, so a killed run resumes from the
last complete wave and any partial wave-K+1 files are simply overwritten —
the same commit discipline Iceberg snapshots give on a real cluster.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # single-entry memo per table for latest_snapshot_wave: the listing
        # is O(snapshots) per call, and the delta-mode engine asks once per
        # consumer per wave (rebase cadence + merge-on-read base) — at a
        # 10^6-wave drive that compounds to O(waves²) directory scans.  The
        # cache holds the last (upto_wave -> answer) per table and is
        # dropped on every snapshot write; it never outlives the process, so
        # resume-heavy drives (one wave per process) still read persistent
        # state first (the r4 cadence fix is preserved).
        self._snap_wave_cache: dict[str, tuple[int, Optional[int]]] = {}
        # per-table parquet data schema (without the wave= partition column),
        # learned from the frames this store writes or from its first read of
        # a table.  Passing it to the reader skips parquet schema inference,
        # which costs one Spark job per read: ~5 per wave, 3 more per rebase.
        # Every wave of a table is written with the same schema.
        self._schemas: dict[str, T.StructType] = {}
        os.makedirs(root, exist_ok=True)
        self._recover_compaction()

    def _recover_compaction(self) -> None:
        """Heal a compaction interrupted between its two directory renames:
        a leftover '<table>.old' with no '<table>' means the data survived
        only under the .old name — restore it (losing the table silently
        would reset politeness clocks and erase crawl history on resume).
        Leftover '.compacting' temp dirs are incomplete rewrites — drop
        them.  Called from __init__ and before every compaction."""
        import shutil

        for entry in list(os.listdir(self.root)):
            path = os.path.join(self.root, entry)
            if entry.endswith(".compacting"):
                shutil.rmtree(path, ignore_errors=True)
            elif entry.endswith(".old"):
                base = path[: -len(".old")]
                if not os.path.isdir(base):
                    os.rename(path, base)
                else:
                    shutil.rmtree(path, ignore_errors=True)

    # -- manifests ----------------------------------------------------------

    def _manifest_path(self, wave: int) -> str:
        return os.path.join(self.root, f"manifest-{wave:05d}.json")

    def latest_wave(self) -> Optional[int]:
        waves = [
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(self.root)
            if f.startswith("manifest-") and f.endswith(".json")
        ]
        return max(waves) if waves else None

    def manifest(self, wave: int) -> dict:
        with open(self._manifest_path(wave)) as fh:
            return json.load(fh)

    def commit(self, wave: int, meta: dict) -> None:
        tmp = self._manifest_path(wave) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"wave": wave, **meta}, fh)
        os.replace(tmp, self._manifest_path(wave))  # atomic

    # -- tables --------------------------------------------------------------

    def _dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    def _read(self, table: str, path: str, base: Optional[str] = None) -> DataFrame:
        """Parquet read of `path` with the table's known schema; the first
        read of a table this store has not written infers it once.  A
        missing path still raises."""
        reader = self.spark.read
        if base is not None:
            reader = reader.option("basePath", base)
        schema = self._schemas.get(table)
        if schema is not None:
            return reader.schema(schema).parquet(path)
        df = reader.parquet(path)
        self._schemas[table] = T.StructType(
            [f for f in df.schema.fields if base is None or f.name != "wave"]
        )
        return df

    def _write(self, df: DataFrame, table: str, wave: int) -> None:
        df.write.mode("overwrite").parquet(self._dir(table, wave))
        self._schemas[table] = df.schema

    def write_snapshot(self, df: DataFrame, table: str, wave: int) -> None:
        self._snap_wave_cache.pop(table, None)
        self._write(df, table, wave)

    def write_delta(self, df: DataFrame, table: str, wave: int) -> None:
        # the wave= directory partition carries the wave value; a data column
        # of the same name would collide on partitioned read
        if "wave" in df.columns:
            df = df.drop("wave")
        self._write(df, table, wave)

    def read_snapshot(self, table: str, wave: int) -> DataFrame:
        return self._read(table, self._dir(table, wave))

    def latest_snapshot_wave(self, table: str, upto_wave: int) -> Optional[int]:
        """Highest wave <= upto_wave holding a COMPLETE snapshot of ``table``
        (Spark's _SUCCESS marker present).  A rebase killed mid-write leaves
        a marker-less directory, which must be invisible — the previous
        complete snapshot plus the deltas since it reconstruct the same
        state, exactly like an uncommitted Iceberg snapshot.

        Memoized per (table, upto_wave) — one directory listing per wave
        transition; write_snapshot drops the entry (see __init__)."""
        cached = self._snap_wave_cache.get(table)
        if cached is not None and cached[0] == upto_wave:
            return cached[1]
        base = os.path.join(self.root, table)
        if not os.path.isdir(base):
            return None
        waves = []
        for entry in os.listdir(base):
            if not entry.startswith("wave="):
                continue
            try:
                w = int(entry.split("=", 1)[1])
            except ValueError:
                continue
            if w <= upto_wave and os.path.exists(
                os.path.join(base, entry, "_SUCCESS")
            ):
                waves.append(w)
        out = max(waves) if waves else None
        self._snap_wave_cache[table] = (upto_wave, out)
        return out

    def read_deltas(self, table: str, upto_wave: int) -> Optional[DataFrame]:
        """Union of wave deltas <= upto_wave, via partition-pruned read of the
        wave= directory tree (uncommitted later waves are pruned out)."""
        base = os.path.join(self.root, table)
        if not os.path.isdir(base) or not os.listdir(base):
            return None
        df = self._read(table, base, base)
        return df.filter(df["wave"] <= upto_wave)

    def compact_deltas(self, table: str) -> int:
        """Rewrite a delta table's per-wave directories so each wave holds
        ONE file instead of one-per-task — the small-files compaction a
        long crawl needs (10^4 waves x 32 tasks = 320k files otherwise).

        Layout, schemas, and wave-pruned reads are unchanged; rows for any
        partially-written (uncommitted) wave are carried through untouched
        and remain overwritten by resume, so the manifest commit discipline
        is preserved.  The local parquet backend swaps directories
        (crash between the two renames can leave the old dir under
        '<table>.old' — recoverable by hand); the Iceberg production
        backend would use rewrite_data_files, which is atomic.
        Returns the number of parquet files after compaction."""
        import shutil

        self._recover_compaction()
        self._snap_wave_cache.pop(table, None)  # dir tree is about to change
        base = os.path.join(self.root, table)
        if not os.path.isdir(base) or not os.listdir(base):
            return 0
        df = self._read(table, base, base)
        tmp = base + ".compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        df.repartition("wave").write.partitionBy("wave").parquet(tmp)
        old = base + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)
        return sum(
            1
            for _, _, files in os.walk(base)
            for f in files
            if f.endswith(".parquet")
        )
