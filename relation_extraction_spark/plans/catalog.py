"""Thin Iceberg-style table catalog over parquet.

The north_rule asks for Iceberg checkpoint tables; the sandbox has no Iceberg
jars, so the pipeline codes against this minimal catalog facade. Swapping in
real Iceberg means replacing these methods with
``writeTo(...).createOrReplace()`` / ``spark.table(...)``.

Snapshot/commit protocol (Iceberg-lite, cluster-correct):

* every write lands in a NEW versioned directory ``<root>/<name>/v<N>``;
* a version is committed iff Hadoop's job-commit ``_SUCCESS`` marker exists
  inside it (written atomically at job commit by the FileOutputCommitter);
* readers resolve the HIGHEST committed version — a crash mid-write leaves a
  version directory without ``_SUCCESS`` and readers keep seeing the previous
  snapshot (real replace semantics: the old snapshot is never destroyed
  before the new one is committed);
* all filesystem operations go through the Hadoop FileSystem API resolved
  from the path's scheme, so the same code works on file://, hdfs:// and
  s3a:// — no driver-local ``os.path`` assumptions;
* older snapshots beyond the previous one are vacuumed on the next
  successful commit (keep-last-2, like a short Iceberg snapshot retention).

**Concurrency contract: one writer per table.** Version allocation is a
read-then-write over the directory listing, not an atomic swap — two writers
committing the same table simultaneously can allocate the same version number
and interleave files (real Iceberg serializes this through an atomic metadata
pointer; this facade deliberately does not). Concurrent READERS are safe at
all times: they resolve the highest ``_SUCCESS``-committed version, which
vacuum always keeps. ``inflight_grace_seconds`` (default 300) makes vacuum
spare RECENTLY-modified uncommitted directories — they may be another writer
mid-write — and only reclaim stale ones, the same age heuristic as Iceberg's
orphan-file cleanup. The protection is ON by default because "no concurrent
writer, ever" is a promise the caller must make, not one we can infer;
a deployment that can guarantee a single writer may pass
``inflight_grace_seconds=0`` to reclaim crashed leftovers immediately.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _struct(schema_json: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(schema_json))


class Catalog:
    KEEP_SNAPSHOTS = 2

    def __init__(self, spark: SparkSession, root: str,
                 inflight_grace_seconds: float = 300.0):
        self.spark = spark
        self.root = root.rstrip("/")
        self.inflight_grace_seconds = inflight_grace_seconds
        # resolved once: each package segment of a py4j class lookup is one
        # driver round trip, and every fs helper builds a Path
        self._Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path

    # --- hadoop fs helpers ---------------------------------------------------

    def _jpath(self, path_str: str):
        return self._Path(path_str)

    def _fs(self, path_str: str):
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = self._jpath(path_str)
        return p.getFileSystem(conf), p

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _version_path(self, name: str, version: int) -> str:
        return f"{self.path(name)}/v{version}"

    def _versions(self, table_dir: str, prefix: str) -> dict[int, tuple[bool, int]]:
        """``<prefix><N>`` directories under ``table_dir`` → (committed,
        modification ms). One glob lists the directories together with
        their ``_SUCCESS`` markers (Hadoop expands the braces into one
        pattern per level); a missing ``table_dir`` lists nothing. Like
        Spark's own parquet reads, this takes the root as a glob."""
        fs, p = self._fs(f"{table_dir}/{{{prefix}*,{prefix}*/_SUCCESS}}")
        found: dict[str, int] = {}
        committed: set[str] = set()
        for st in fs.globStatus(p) or []:
            path = st.getPath()
            n = path.getName()
            if n == "_SUCCESS":
                committed.add(path.getParent().getName())
            elif st.isDirectory():
                found[n] = st.getModificationTime()
        return {int(n[len(prefix):]): (n in committed, ms)
                for n, ms in found.items() if n[len(prefix):].isdigit()}

    def _committed_versions(self, name: str) -> list[int]:
        return sorted(v for v, (ok, _) in self._versions(self.path(name), "v").items() if ok)

    # --- table operations ------------------------------------------------------

    def exists(self, name: str) -> bool:
        return bool(self._committed_versions(name))

    def _schema_sidecar_path(self, name: str, version: int) -> str:
        # lives in the TABLE directory, not the version directory: it must
        # be written BEFORE the parquet job (whose mode("overwrite") would
        # wipe a file inside the version dir), so that no version can
        # become _SUCCESS-committed without its schema already durable —
        # a sidecar written after the commit marker leaves a crash window
        # where an empty committed table is permanently unreadable
        return f"{self.path(name)}/_schema_v{version}.json"

    def _write_schema(self, path: str, df: DataFrame) -> None:
        """Persist the table schema next to the data: an EMPTY result set
        (a legitimate outcome for a stage slice at scale — e.g. a language
        filter that drops everything) writes no parquet part files, and a
        later read would fail schema inference. Iceberg keeps the schema in
        table metadata; this sidecar is the facade's equivalent. An orphan
        sidecar from a crash before the data write is harmless: its version
        was never committed, and the file is simply overwritten when that
        version number is next allocated (vacuum cannot see it — it scans
        version DIRECTORIES, which the crash never created)."""
        fs, p = self._fs(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(df.schema.json().encode("utf-8")))
        finally:
            out.close()

    def _read_schema(self, path: str) -> str | None:
        """A schema sidecar's JSON text; None when there is no such file."""
        fs, p = self._fs(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def write(self, name: str, df: DataFrame) -> None:
        nxt = max(self._versions(self.path(name), "v"), default=0) + 1
        self._write_schema(self._schema_sidecar_path(name, nxt), df)  # BEFORE the data commit
        df.write.mode("overwrite").parquet(self._version_path(name, nxt))
        # vacuum: keep the new snapshot + KEEP_SNAPSHOTS-1 previous committed.
        # Uncommitted directories are our own crashed leftovers under the
        # single-writer contract; with inflight_grace_seconds > 0 a recently
        # modified uncommitted dir is spared (another writer may be mid-write
        # — module docstring, Concurrency contract).
        versions = self._versions(self.path(name), "v")
        keep = sorted(v for v, (ok, _) in versions.items() if ok)[-self.KEEP_SNAPSHOTS:]
        fs, _ = self._fs(self.path(name))
        now_ms = time.time() * 1000
        for v, (ok, mtime_ms) in sorted(versions.items()):
            if v in keep:
                continue
            if (not ok and self.inflight_grace_seconds > 0
                    and now_ms - mtime_ms < self.inflight_grace_seconds * 1000):
                continue
            fs.delete(self._jpath(self._version_path(name, v)), True)
            fs.delete(self._jpath(self._schema_sidecar_path(name, v)), False)

    def snapshots(self, name: str) -> list[int]:
        """Committed, still-retained snapshot versions (ascending). The
        vacuum keeps the last ``KEEP_SNAPSHOTS`` (Iceberg-style short
        retention), so this is the time-travel window."""
        return self._committed_versions(name)

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read a table — latest committed snapshot by default, or an
        explicit retained ``version`` (time travel, like Iceberg's
        VERSION AS OF). A version outside the retention window (vacuumed,
        never committed, or in-flight) raises FileNotFoundError: serving a
        half-written directory as a snapshot would be silent corruption."""
        versions = self._committed_versions(name)
        if not versions:
            raise FileNotFoundError(f"table {name} not committed in catalog {self.root}")
        if version is None:
            version = versions[-1]
        elif version not in versions:
            raise FileNotFoundError(
                f"table {name} has no committed snapshot v{version} in "
                f"catalog {self.root} (retained: {versions} — older "
                "snapshots are vacuumed, keep-last-" f"{self.KEEP_SNAPSHOTS})")
        vpath = self._version_path(name, version)
        # schema sidecar (if present) makes empty tables readable and skips
        # footer-based inference; absent on pre-sidecar catalogs → infer.
        # Probe the current table-dir location first, then the legacy
        # in-version location an earlier code generation wrote.
        for sp in (self._schema_sidecar_path(name, version), f"{vpath}/_schema.json"):
            raw = self._read_schema(sp)
            if raw is not None:
                return self.spark.read.schema(_struct(raw)).parquet(vpath)
        return self.spark.read.parquet(vpath)

    def drop(self, name: str) -> None:
        fs, p = self._fs(self.path(name))
        if fs.exists(p):
            fs.delete(p, True)
        fs, p = self._fs(self._delta_root(name))
        if fs.exists(p):
            fs.delete(p, True)

    # --- delta log (merge-on-read) -------------------------------------------
    # The append half of the O(|batch|) fold: each crawl batch commits one
    # `d<id>` directory under `<name>__delta/` (same _SUCCESS-gated commit
    # as snapshots), the read path merges base ∪ pending deltas, and
    # compaction folds them back into a snapshot. Same single-writer
    # contract as write(); delta ids are the stream's batch ids, monotone
    # within the checkpoint lineage.

    def _delta_root(self, name: str) -> str:
        return f"{self.path(name)}__delta"

    def _delta_dir(self, name: str, delta_id: int) -> str:
        return f"{self._delta_root(name)}/d{delta_id}"

    def committed_delta_ids(self, name: str) -> list[int]:
        return sorted(i for i, (ok, _) in self._versions(self._delta_root(name), "d").items()
                      if ok)

    def _delta_sidecar_path(self, name: str, delta_id: int) -> str:
        return f"{self._delta_root(name)}/_schema_d{delta_id}.json"

    def write_delta(self, name: str, delta_id: int, df: DataFrame) -> None:
        """Commit one delta batch — O(|batch|), never touches the snapshot.
        Idempotent per id (mode=overwrite): an at-least-once replay of a
        crashed-uncommitted write lands in the same directory. The schema
        sidecar is written BEFORE the data commit, same crash-ordering
        argument as snapshots (an empty provenance batch is legitimate)."""
        self._write_schema(self._delta_sidecar_path(name, delta_id), df)
        df.write.mode("overwrite").parquet(self._delta_dir(name, delta_id))

    def read_deltas(self, name: str, ids: list[int]) -> DataFrame:
        """Union of the given committed delta batches (one multi-path scan;
        the schema sidecar keeps empty batches readable). Every pending
        batch's sidecar must agree — a schema change mid-lineage (a code
        upgrade between pending folds) would otherwise be silently misread
        under the first batch's schema; the fix is to compact before
        upgrading (round-7 review)."""
        if not ids:
            raise ValueError(f"read_deltas({name}): empty id list")

        def _sidecar(i: int) -> str:
            raw = self._read_schema(self._delta_sidecar_path(name, i))
            if raw is None:
                raise FileNotFoundError(
                    f"read_deltas({name}): delta d{i} has no schema sidecar")
            return raw

        raw = _sidecar(ids[0])
        for i in ids[1:]:
            if _sidecar(i) != raw:
                raise ValueError(
                    f"read_deltas({name}): delta d{i}'s schema differs from"
                    f" d{ids[0]}'s — pending deltas span a schema change;"
                    " compact the table before upgrading the writer")
        return self.spark.read.schema(_struct(raw)).parquet(
            *[self._delta_dir(name, i) for i in ids])

    def drop_deltas(self, name: str, ids: list[int]) -> None:
        fs = self._fs(self._delta_root(name))[0]  # one FS resolution
        for i in ids:
            fs.delete(self._jpath(self._delta_dir(name, i)), True)
            fs.delete(self._jpath(self._delta_sidecar_path(name, i)), False)
