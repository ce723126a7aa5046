"""Snapshot store: atomic checkpoint of frontier/seen/pages/metrics.

The reference's resume mechanism is "whole ledger CSV rewritten to a
tmp file then moved into place after every filing"
(/root/reference/download_filings.py:196-215) plus skip-if-on-disk
checks. Here the same exact-resume guarantee is table snapshots with
an Iceberg-style commit protocol, implemented on plain parquet (the
Iceberg runtime jar is not in this sandbox; the protocol is what
matters and it is identical in spirit):

  snapshot directory  <root>/v<k>/<table>/*.parquet   (data, written first)
  manifest            <root>/v<k>/MANIFEST.json       (commit point)

A snapshot is visible iff its MANIFEST.json exists; the manifest is
written via tmp-file + atomic rename, LAST. Readers resolve
`latest()` = max committed version, so a crash mid-write leaves a
dangling uncommitted directory that the next writer ignores/overwrites
— exactly Iceberg's snapshot isolation, and the property the
kill/resume test exercises. On a real deployment swap this class for
`df.writeTo("catalog.db.t")` Iceberg commits; callers don't change.
A commit writes its tables concurrently (one Spark job each), then
renames the manifest.

Tables per snapshot:
  seen          (url)                          — the URL-seen set
  frontier      (remaining scheduled rows)     — queue state
  pages         (FETCH_SCHEMA rows, appended)  — the crawl output
  metrics       (per-partition lineage rows)   — see crawler.py
  company_info  (cik-keyed company dim)        — see company.py

`seen` is a delta log. A wave commits only the URLs it fetched, as a
delta on the previous version; `read` returns the logical table (base
plus every delta since) as one multi-path parquet scan. The store
compacts by itself: once the deltas since the base hold as many bytes
as the base, or the chain would pass Spark's parallel-listing
threshold, the next append writes one full copy instead. Compactions
at least double the base, so each row is rewritten O(1) times. A commit
that passes a full table (seed, requeue, a streaming merge) writes a
new base.

The bloom filter is not a table: a crawl job keeps it in memory and
grows it wave by wave (crawler.py).

The manifest records, at no Spark cost, the bytes each table wrote
(listed from the filesystem after the writes) and which tables are
deltas on which version.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

# InMemoryFileIndex lists more root paths than this with a Spark job
LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _dir_bytes(path: str) -> int:
    """Bytes of a table directory's data files (not _SUCCESS or .crc)."""
    return sum(
        e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and not e.name.startswith(("_", "."))
    )


@dataclass
class SnapshotStore:
    root: str

    def _vdir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def versions(self) -> list[int]:
        """Committed versions only (manifest present)."""
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                if os.path.exists(os.path.join(self.root, name, "MANIFEST.json")):
                    out.append(int(name[1:]))
        return sorted(out)

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        with open(os.path.join(self._vdir(version), "MANIFEST.json")) as f:
            return json.load(f)

    def chain(self, table: str, version: int) -> list[int]:
        """Versions whose `table` directories make up the logical table
        at `version`: its base first, then each delta in order."""
        out = [version]
        while True:
            mpath = os.path.join(self._vdir(out[-1]), "MANIFEST.json")
            if not os.path.exists(mpath):
                break
            parent = self.manifest(out[-1]).get("deltas", {}).get(table)
            if parent is None:
                break
            out.append(parent)
        return out[::-1]

    def _appends(self, spark: SparkSession, table: str, parent: int) -> bool:
        """Whether a delta on `parent`'s `table` may extend its chain
        rather than compact it into a full copy."""
        chain = self.chain(table, parent)
        sizes = [_dir_bytes(os.path.join(self._vdir(v), table)) for v in chain]
        limit = int(spark.conf.get(LISTING_THRESHOLD_CONF))
        return sum(sizes[1:]) < sizes[0] and len(chain) < limit

    def commit(
        self,
        tables: dict[str, DataFrame],
        summary: dict | None = None,
        deltas: dict[str, DataFrame] | None = None,
    ) -> int:
        """Write all tables of the next snapshot, then commit by
        atomically renaming the manifest into place. Anything that
        dies before the rename is invisible to readers.

        `deltas` maps a table to rows appended to its logical content
        at the latest version. The rows must not already be in it: no
        dedup runs. The store writes the rows alone, as a delta, or
        compacts (see the module docstring); if the latest version has
        no such table the rows are the whole table."""
        parent = self.latest()
        version = (parent or 0) + 1
        vdir = self._vdir(version)
        if os.path.isdir(vdir):  # uncommitted debris from a crash
            shutil.rmtree(vdir)
        os.makedirs(vdir, exist_ok=True)

        writes = dict(tables)
        delta_of: dict[str, int] = {}
        for name, df in (deltas or {}).items():
            carried = parent is not None and os.path.isdir(
                os.path.join(self._vdir(parent), name)
            )
            if carried and self._appends(df.sparkSession, name, parent):
                delta_of[name] = parent
            elif carried:
                df = self.read(df.sparkSession, name, parent).unionByName(df)
            writes[name] = df

        def write(name: str, df: DataFrame) -> None:
            df.write.mode("overwrite").parquet(os.path.join(vdir, name))

        # concurrent: one small write job alone leaves most cores idle.
        # The wrapper carries the caller's job group and description
        # into each thread. Leaving the pool waits for every write;
        # then the first failed one, in table order, raises.
        with ThreadPoolExecutor(max_workers=max(1, len(writes))) as pool:
            futures = [
                pool.submit(inheritable_thread_target(df.sparkSession)(write), name, df)
                for name, df in writes.items()
            ]
        for fut in futures:
            fut.result()

        manifest = {
            "version": version,
            "committed_at": time.time(),
            "tables": sorted(writes),
            "deltas": delta_of,
            "bytes": {n: _dir_bytes(os.path.join(vdir, n)) for n in sorted(writes)},
            "summary": summary or {},
        }
        tmp = os.path.join(vdir, ".MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, os.path.join(vdir, "MANIFEST.json"))
        return version

    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame | None:
        """The logical `table` at `version` (default latest): one scan
        over its base and deltas, or None if any of them is missing."""
        v = version if version is not None else self.latest()
        if v is None:
            return None
        paths = [os.path.join(self._vdir(c), table) for c in self.chain(table, v)]
        if not all(os.path.isdir(p) for p in paths):
            return None
        return spark.read.parquet(*paths)

    def read_any(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Read `table` from the NEWEST committed version that carries
        it — for tables (e.g. the company_info dim) that not every
        commit rewrites (a requeue commit writes only frontier+seen)."""
        for v in reversed(self.versions()):
            df = self.read(spark, table, v)
            if df is not None:
                return df
        return None

    # Superseded-state tables: each commit REPLACES these wholesale (or,
    # for seen, extends them by a delta), so old copies only serve time
    # travel. Append-log tables (pages, metrics) hold data that exists
    # nowhere else and are never expired.
    STATE_TABLES = ("frontier", "seen", "company_info")

    def expire_state(self, keep_last: int = 2) -> list[int]:
        """Iceberg-style snapshot expiry: drop the superseded STATE
        tables from all but the newest `keep_last` committed versions
        and the older versions whose deltas those still read.

        The append-only tables (pages, metrics) survive in every
        version — they are the crawl's output log, unioned by
        `CrawlJob.pages()`. Old manifests stay committed (the version
        history is intact; a time-travel read of expired state returns
        None, mirroring Iceberg's expire_snapshots). Resume semantics
        are untouched because `_load_state`/`read_any` only ever read
        the newest version carrying a table.

        At 10^10 URLs the seen ledger is the dominant storage
        cost per snapshot; without expiry a W-wave crawl stores W
        copies. Returns the versions whose state was expired."""
        vs = self.versions()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        expired: set[int] = set()
        for t in self.STATE_TABLES:
            # not every commit carries every state table (a requeue
            # writes only frontier+seen; company_info rides wave
            # commits) — keep the newest `keep_last` versions that
            # actually CARRY this table, so read_any never loses it
            carriers = [
                v for v in vs
                if os.path.isdir(os.path.join(self._vdir(v), t))
            ]
            needed = {c for v in carriers[-keep_last:] for c in self.chain(t, v)}
            for v in carriers:
                if v not in needed:
                    shutil.rmtree(os.path.join(self._vdir(v), t))
                    expired.add(v)
        return sorted(expired)


def snapshot_diff(
    spark: SparkSession,
    store: SnapshotStore,
    table: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Changelog between two committed snapshots of `table` — the
    Iceberg `changelog` / CDC read: one row per changed key with
    `_change` in {'insert', 'delete', 'update'}.

    Implemented as a full-outer join ON THE KEYS with an md5 row
    fingerprint comparing the non-key payload — the join carries
    (keys, 16-byte hash), never the payload columns, so diffing two
    10^10-row URL-seen snapshots shuffles keys+hashes only. Keys
    present on one side only are inserts/deletes; both sides with a
    differing fingerprint are updates. Unchanged keys are dropped
    before the result materializes.

    Mirrors the reference's rerun-and-compare idiom (the ledger CSV
    rewritten each run) as an incremental read instead of a full
    rescan.
    """
    from pyspark.sql import functions as F

    old = store.read(spark, table, v_from)
    new = store.read(spark, table, v_to)
    if old is None or new is None:
        raise ValueError(f"table {table!r} missing in v{v_from} or v{v_to}")
    payload = [c for c in new.columns if c not in key_cols]
    if sorted(old.columns) != sorted(new.columns):
        raise ValueError("schema changed between snapshots")

    def fp(df: DataFrame) -> DataFrame:
        # concat_ws SKIPS nulls, which would collide (a, NULL) with
        # (NULL, a) across payload columns — encode null explicitly so
        # a null-ness change is an update
        cells = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
            for c in payload
        ]
        fcol = F.md5(F.concat_ws("\x1f", *cells)) if payload else F.lit("")
        return df.select(*key_cols, fcol.alias("_fp"))

    o = fp(old).alias("o")
    n = fp(new).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]
    joined = o.join(n, cond, "full_outer")
    # side presence must be tested via _fp (non-null whenever the row
    # exists — F.lit("") when there are no payload cols), NOT via a key
    # column: the eqNullSafe join legitimately matches NULL key values,
    # and a NULL-keyed row present in both snapshots would read as
    # 'insert' if classified by key nullness.
    change = (
        F.when(F.col("o._fp").isNull(), F.lit("insert"))
        .when(F.col("n._fp").isNull(), F.lit("delete"))
        .when(F.col("o._fp") != F.col("n._fp"), F.lit("update"))
    )
    keys_out = [
        F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in key_cols
    ]
    return (
        joined.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(*keys_out, "_change")
    )
