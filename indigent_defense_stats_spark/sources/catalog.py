"""Snapshot-versioned parquet tables with Iceberg-like semantics.

The north rule calls for Iceberg checkpointing of frontier state,
lineage and metrics per wave.  This sandbox has no Iceberg runtime
jars, so this module provides the same *semantics* on plain parquet:

- atomic snapshots (write to tmp dir + rename; a manifest JSON commits
  the snapshot)
- overwrite tables (full state per snapshot: frontier, host_state) and
  append tables (delta per snapshot, union on read: documents, logs,
  metrics)
- time travel (``read(snapshot=k)``) and resume-from-latest

On a production cluster every ``SnapshotTable`` call site maps 1:1 to
``df.writeTo(table).overwritePartitions()/.append()`` plus Iceberg
snapshot reads; nothing else in the engine would change.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def parquet_dir_rows(path: str) -> int:
    """Row count from parquet footers — a driver-side metadata read
    (microseconds), no Spark job.  The Iceberg analog is reading the
    snapshot manifest's record counts."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(path):
        if name.startswith("part-") and name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return total


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_footer_schema(path: str) -> StructType | None:
    """The schema a Spark write stored in the footer of a part file
    under *path* (the key ``spark.read.parquet`` itself prefers), read
    on the driver; None when no part file carries one (e.g. a
    ``write_local`` snapshot), which leaves inference to Spark."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".parquet"):
            meta = pq.read_schema(os.path.join(path, name)).metadata or {}
            if _SPARK_SCHEMA_KEY in meta:
                return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return None


def parquet_dir_bytes(path: str) -> int:
    total = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            total += os.path.getsize(os.path.join(path, name))
    return total


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: StructType | None = None,
        mode: str = "overwrite",  # 'overwrite' | 'append'
    ) -> None:
        assert mode in ("overwrite", "append")
        self.spark = spark
        self.path = path
        self.schema = schema
        self.mode = mode
        os.makedirs(path, exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------
    def _snap_dir(self, snap: int) -> str:
        return os.path.join(self.path, f"snap-{snap:05d}")

    def _manifest(self, snap: int) -> str:
        return os.path.join(self._snap_dir(snap), "_manifest.json")

    def snapshots(self) -> list[int]:
        out = []
        for d in sorted(os.listdir(self.path)):
            # strict name match: a crash between the manifest write and
            # the commit rename leaves snap-NNNNN.tmp (which contains a
            # manifest!) — it must parse as "not a snapshot", not crash
            if (
                d.startswith("snap-")
                and d[5:].isdigit()
                and os.path.exists(os.path.join(self.path, d, "_manifest.json"))
            ):
                out.append(int(d[5:]))
        return out

    def latest(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # -- io -------------------------------------------------------------------
    def write(self, df: DataFrame, meta: dict | None = None) -> int:
        snap = (self.latest() or 0) + 1
        target = self._snap_dir(snap)
        tmp = target + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(os.path.join(tmp, "data"))
        os.makedirs(tmp, exist_ok=True)
        manifest = {
            "snapshot": snap,
            "parent": self.latest(),
            "ts": time.time(),
            "mode": self.mode,
            **(meta or {}),
        }
        # write manifest inside tmp, then atomic rename commits the snapshot
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, target)
        return snap

    def write_local(self, table, meta: dict | None = None) -> int:
        """Driver-side snapshot write of a pyarrow Table — same
        tmp+rename commit protocol, NO Spark job.  For bounded
        per-wave bookkeeping (host clocks, small seen deltas) a Spark
        write costs a full job round trip (~0.5s in this sandbox) to
        move a few KB; the pyarrow path is microseconds.  Sized
        payloads must use :meth:`write`."""
        import pyarrow.parquet as pq

        snap = (self.latest() or 0) + 1
        target = self._snap_dir(snap)
        tmp = target + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(os.path.join(tmp, "data"), exist_ok=True)
        pq.write_table(table, os.path.join(tmp, "data", "part-00000.parquet"))
        manifest = {
            "snapshot": snap,
            "parent": self.latest(),
            "ts": time.time(),
            "mode": self.mode,
            **(meta or {}),
        }
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, target)
        return snap

    def read(self, snapshot: int | None = None) -> DataFrame | None:
        snaps = self.snapshots()
        if not snaps:
            return None
        upto = snapshot if snapshot is not None else snaps[-1]
        if self.mode == "overwrite":
            if upto not in snaps:
                return None
            paths = [os.path.join(self._snap_dir(upto), "data")]
        else:
            paths = [
                os.path.join(self._snap_dir(s), "data") for s in snaps if s <= upto
            ]
        if not paths:
            return None
        # a known schema spares the one-task parquet footer job that
        # schema inference runs on every read: the declared one, else
        # the one Spark wrote into the newest snapshot's footer
        schema = self.schema
        if schema is None:
            schema = _spark_footer_schema(paths[-1])
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def read_local(self):
        """Driver-side read of the latest snapshot as a pyarrow Table,
        the counterpart of :meth:`write_local` for driver-sized
        overwrite tables: NO Spark job.  None when there is none."""
        import pyarrow.parquet as pq

        assert self.mode == "overwrite"
        snap = self.latest()
        if snap is None:
            return None
        return pq.read_table(os.path.join(self._snap_dir(snap), "data"))

    def read_or_empty(self, snapshot: int | None = None) -> DataFrame:
        df = self.read(snapshot)
        if df is None:
            assert self.schema is not None, "empty read needs a schema"
            return self.spark.createDataFrame([], self.schema)
        return df

    def manifest(self, snapshot: int) -> dict:
        with open(self._manifest(snapshot)) as f:
            return json.load(f)

    def rowcount(self) -> int:
        """Total rows from parquet footers (append mode: across all
        snapshots; overwrite: latest) — driver metadata read, no job."""
        snaps = self.snapshots()
        if not snaps:
            return 0
        if self.mode == "overwrite":
            snaps = snaps[-1:]
        return sum(
            parquet_dir_rows(os.path.join(self._snap_dir(s), "data"))
            for s in snaps
        )

    def drop_snapshots(self, pred) -> int:
        """Remove snapshots whose manifest matches *pred* (a dict ->
        bool callable).  Used for resume-time cleanup of torn writes —
        the plain-parquet stand-in for aborting an uncommitted Iceberg
        transaction."""
        dropped = 0
        for s in self.snapshots():
            if pred(self.manifest(s)):
                shutil.rmtree(self._snap_dir(s), ignore_errors=True)
                dropped += 1
        return dropped


class DeltaTable:
    """Merge-on-read keyed table: base snapshots + per-wave deltas
    (adds + key-deletes), the plain-parquet analog of an Iceberg v2
    table with equality deletes.

    Built for the crawl frontier's pending set: a wave must retire its
    eligible rows and enqueue discoveries WITHOUT rewriting the whole
    table (at a 10^10-URL frontier a copy-on-write state transition is
    O(frontier) I/O per wave — the round-1 scale-killer).  Here a wave
    writes O(wave) bytes:

    - ``write_delta(adds, removes)`` appends the new rows and the
      retired keys (one small parquet each);
    - ``read()`` is ``(base ∪ adds*) ⟕anti removes*`` — the anti-join
      is the merge-on-read; AQE broadcasts the removes side while it
      is small;
    - ``compact()`` folds accumulated deltas into a fresh base;
      ``compaction_pays(n_live)`` is the policy: the table is not
      drained, dead rows outnumber live ones, and the remove files
      have outgrown ``spark.sql.autoBroadcastJoinThreshold``, so the
      anti-join would no longer be a broadcast.  Below that size the
      merge-on-read costs one small broadcast per read, and a
      compaction (a full read and rewrite of the live set) would cost
      more than it saves; above it, read cost is amortized
      O(pending);
    - snapshots carry the same manifest/wave tags as
      :class:`SnapshotTable`, so the wave-commit rollback protocol
      (drop snapshots beyond the last commit marker) applies
      unchanged — dropping an uncommitted compaction base falls back
      to the prior base + deltas, dropping an uncommitted delta
      restores the exact pre-wave state;
    - ``gc(committed_wave)`` removes snapshots strictly older than the
      newest base that is itself committed — they are unreachable
      (reads start at the latest base) once the base can no longer be
      rolled back.

    On a production cluster this is ``MERGE INTO frontier`` on an
    Iceberg table bucketed by ``pmod(xxhash64(canonical_url), N)``;
    call sites map 1:1.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: StructType,
        key: str,
    ) -> None:
        self.spark = spark
        self.path = path
        self.schema = schema
        self.key = key
        os.makedirs(path, exist_ok=True)

    # -- snapshot bookkeeping (same layout contract as SnapshotTable) --
    def _snap_dir(self, snap: int) -> str:
        return os.path.join(self.path, f"snap-{snap:05d}")

    def snapshots(self) -> list[int]:
        out = []
        for d in sorted(os.listdir(self.path)):
            if (
                d.startswith("snap-")
                and d[5:].isdigit()
                and os.path.exists(os.path.join(self.path, d, "_manifest.json"))
            ):
                out.append(int(d[5:]))
        return out

    def latest(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def manifest(self, snapshot: int) -> dict:
        with open(os.path.join(self._snap_dir(snapshot), "_manifest.json")) as f:
            return json.load(f)

    def _commit(self, tmp: str, target: str, manifest: dict) -> None:
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, target)

    def _new_tmp(self, snap: int) -> tuple[str, str]:
        target = self._snap_dir(snap)
        tmp = target + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp, exist_ok=True)
        return tmp, target

    # -- writes --------------------------------------------------------
    def write_base(self, df: DataFrame, meta: dict | None = None) -> int:
        snap = (self.latest() or 0) + 1
        tmp, target = self._new_tmp(snap)
        df.write.mode("overwrite").parquet(os.path.join(tmp, "adds"))
        self._commit(
            tmp,
            target,
            {"snapshot": snap, "kind": "base", "ts": time.time(), **(meta or {})},
        )
        return snap

    def write_delta(
        self,
        adds: DataFrame | None,
        removes: DataFrame | None,
        meta: dict | None = None,
        n_removes: int = -1,
        pool=None,
    ) -> int:
        """*adds* are full-schema new rows; *removes* is a one-column
        DataFrame of keys leaving the table.  Pass either as None to
        skip that side's write (and its Spark action) entirely.

        With *pool* (a ThreadPoolExecutor) the two writes run as
        concurrent Spark jobs into the same uncommitted tmp dir — the
        sequential wave cost is one job, and the single manifest
        rename still commits both atomically.  (A combined
        partitionBy-tagged single write was measured ~15% slower
        end-to-end: the dynamic-partition writer sorts every task's
        rows by the tag and the removes rows ride along null-padded
        to the adds schema.)"""
        snap = (self.latest() or 0) + 1
        tmp, target = self._new_tmp(snap)

        def _write_removes() -> None:
            removes.select(self.key).write.mode("overwrite").parquet(
                os.path.join(tmp, "removes")
            )

        fut = None
        if removes is not None and adds is not None and pool is not None:
            fut = pool.submit(_write_removes)
        if adds is not None:
            adds.write.mode("overwrite").parquet(os.path.join(tmp, "adds"))
        if removes is not None and fut is None:
            _write_removes()
        if fut is not None:
            fut.result()
        self._commit(
            tmp,
            target,
            {
                "snapshot": snap,
                "kind": "delta",
                "ts": time.time(),
                "n_removes": n_removes,
                **(meta or {}),
            },
        )
        return snap

    def adds_dir(self, snapshot: int) -> str | None:
        d = os.path.join(self._snap_dir(snapshot), "adds")
        return d if os.path.exists(d) else None

    def adds_rowcount(self, snapshot: int) -> int:
        """Footer-metadata row count of a snapshot's adds — lets the
        caller fold 'materialize + count' into the write action instead
        of paying a separate Spark count job."""
        d = self.adds_dir(snapshot)
        return parquet_dir_rows(d) if d else 0

    # -- reads ---------------------------------------------------------
    def latest_base(self, upto: int | None = None) -> int | None:
        base = None
        for s in self.snapshots():
            if upto is not None and s > upto:
                break
            if self.manifest(s)["kind"] == "base":
                base = s
        return base

    def _live_paths(self) -> tuple[list[str], list[str]]:
        base = self.latest_base()
        adds, removes = [], []
        for s in self.snapshots():
            if base is not None and s < base:
                continue
            d = self._snap_dir(s)
            a = os.path.join(d, "adds")
            r = os.path.join(d, "removes")
            if os.path.exists(a):
                adds.append(a)
            if os.path.exists(r):
                removes.append(r)
        return adds, removes

    def read(self) -> DataFrame | None:
        adds, removes = self._live_paths()
        if not adds:
            return None
        # read with the declared schema: no footer-inference job
        df = self.spark.read.schema(self.schema).parquet(*adds)
        if removes:
            # explicit one-column schema: remove files may carry extra
            # null columns (combined-write layout) or only the key.  No
            # distinct: duplicate keys cannot change a left anti-join
            key_schema = StructType(
                [f for f in self.schema.fields if f.name == self.key]
            )
            rem = self.spark.read.schema(key_schema).parquet(*removes)
            df = df.join(rem, self.key, "left_anti")
        return df

    def read_or_empty(self) -> DataFrame:
        df = self.read()
        if df is None:
            return self.spark.createDataFrame([], self.schema)
        return df

    def live_rowcount(self) -> int:
        """Live-row count from parquet footers: Σ adds − Σ removes
        since the latest base.  Exact under the table's usage
        invariant — a removed key is never re-added (the crawl's seen
        filter contains every key ever added, so dedup blocks
        re-insertion) and delta adds are key-unique.  Driver metadata
        read; replaces a Spark count job per run."""
        base = self.latest_base()
        total = 0
        for s in self.snapshots():
            if base is not None and s < base:
                continue
            d = self.adds_dir(s)
            if d:
                total += parquet_dir_rows(d)
            r = os.path.join(self._snap_dir(s), "removes")
            if os.path.exists(r):
                total -= parquet_dir_rows(r)
        return total

    def removes_outstanding(self) -> int:
        """Sum of delta remove-counts since the latest base (drives the
        caller's compaction policy; manifests carry the counts so a
        resumed run restores the counter without a data scan)."""
        base = self.latest_base()
        total = 0
        for s in self.snapshots():
            if base is not None and s <= base:
                continue
            m = self.manifest(s)
            if m.get("kind") == "delta":
                n = m.get("n_removes", -1)
                total += max(n, 0)
        return total

    # -- maintenance ---------------------------------------------------
    def compaction_pays(self, n_live: int) -> bool:
        """Compaction policy (see the class docstring): never for a
        drained table, never while dead rows are a minority, and never
        while the remove files are small enough to broadcast.  Their
        on-disk bytes are the size the planner weighs for that choice;
        a negative threshold disables broadcasts, so then any dead
        majority compacts."""
        if n_live <= 0 or self.removes_outstanding() <= n_live:
            return False
        removes_bytes = sum(parquet_dir_bytes(r) for r in self._live_paths()[1])
        conf = self.spark._jsparkSession.sessionState().conf()
        return removes_bytes > conf.autoBroadcastJoinThreshold()

    def compact(self, meta: dict | None = None) -> int | None:
        """Fold base+deltas into a fresh base snapshot.  Old snapshots
        are NOT removed here — until the new base is covered by a
        commit marker a rollback may still need them; ``gc`` reclaims
        them afterwards."""
        cur = self.read()
        if cur is None:
            return None
        return self.write_base(cur, meta)

    def gc(self, committed_wave: int) -> int:
        """Drop snapshots strictly older than the newest base whose
        wave tag is committed (≤ *committed_wave*).  Those snapshots
        are unreachable: reads resolve from the latest base forward,
        and rollback never drops a committed base."""
        keep_from = None
        for s in self.snapshots():
            m = self.manifest(s)
            if m["kind"] == "base" and m.get("wave", 1 << 60) <= committed_wave:
                keep_from = s
        if keep_from is None:
            return 0
        dropped = 0
        for s in self.snapshots():
            if s < keep_from:
                shutil.rmtree(self._snap_dir(s), ignore_errors=True)
                dropped += 1
        return dropped

    def drop_snapshots(self, pred) -> int:
        dropped = 0
        for s in self.snapshots():
            if pred(self.manifest(s)):
                shutil.rmtree(self._snap_dir(s), ignore_errors=True)
                dropped += 1
        return dropped
