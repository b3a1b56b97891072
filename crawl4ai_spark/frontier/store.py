"""WaveStore — atomic per-wave checkpoints of the crawl state.

The reference checkpoints BFS state as an in-memory dict snapshot
(``crawl4ai/deep_crawling/bfs_strategy.py:275-299`` resume_state /
export); the north rule upgrades that to "every frontier iteration
checkpoints frontier, seen-filter shards, and per-partition lineage +
metrics so a killed job resumes exactly".

Design — append-only tables + commit markers (an Iceberg-shaped protocol
over plain parquet, since no Iceberg runtime ships in this sandbox; on a
real cluster each ``write`` becomes ``writeTo(...).append()`` and the
marker becomes the Iceberg snapshot commit):

    store/
      tables/<name>/wave=K/  ← parquet dir (Spark _SUCCESS inside)
      _commits/wave-K.json   ← atomic marker (tmp + rename), written only
                               after every table of wave K is on disk

Tables are **append-only deltas** keyed by wave:
  results        one row per attempted URL (fetched / robots-denied / missing)
  frontier_delta URLs first discovered at wave K (unique by url_fp globally)
  seen_bloom     bloom shard generation built from wave K's frontier_delta
  host_state     full (small) politeness-state snapshot as of wave K
  metrics        one row per wave: stage counts + wall time
  lineage        per-partition row counts for results + discoveries

``write_rows`` writes metrics and lineage, which the driver holds, with
pyarrow (no Spark job); the marker's ``meta`` carries the metrics row.

Recovery invariant: a reader only ever sees waves with commit markers;
a crashed wave K leaves orphan parquet dirs that the re-run of wave K
overwrites (mode=overwrite keyed by wave id ⇒ idempotent exactly-once).

Derived state (no in-place updates anywhere):
  seen(K)    = union of frontier_delta[0..K] keys
  pending(K) = seen(K) − results[0..K].url_fp
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

COMMIT_DIR = "_commits"
TABLES_DIR = "tables"
STAGING_DIR = "staging"
COMPACT_DIR = "compacted"
TARGET_COMPACT_FILE_BYTES = 128 * 1024 * 1024  # ~one HDFS/S3-friendly split


class WaveStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._pending: dict[int, dict[str, int]] = {}
        self._pending_schemas: dict[int, dict[str, str]] = {}
        # markers are immutable once written — memoize so resume over
        # thousands of waves parses each JSON once, not once per use
        self._markers: dict[int, dict] = {}
        os.makedirs(os.path.join(root, COMMIT_DIR), exist_ok=True)

    def recover(self) -> None:
        """Writer-side crash recovery: staging dirs left by a killed run
        are garbage (their wave will be rewritten) — reclaim the disk.
        Called by run_crawl at start; read-only consumers must NOT call
        this (it would race a live writer's in-flight wave)."""
        import shutil

        shutil.rmtree(os.path.join(self.root, STAGING_DIR), ignore_errors=True)

    # ── commit protocol ──────────────────────────────────────────────

    def _table_path(self, name: str, wave: int) -> str:
        return os.path.join(self.root, TABLES_DIR, name, f"wave={wave}")

    def _staging_path(self, name: str, wave: int) -> str:
        # outside the tables tree, so Spark's file readers (batch AND
        # streaming) over a table dir never see in-flight bytes: a wave's
        # tables reach their final path only via the atomic rename in
        # commit(). This makes `spark.readStream` over a table dir
        # marker-consistent without any filtering — uncommitted waves
        # simply aren't there yet.
        return os.path.join(self.root, STAGING_DIR, name, f"wave={wave}")

    def _marker_path(self, wave: int) -> str:
        return os.path.join(self.root, COMMIT_DIR, f"wave-{wave}.json")

    @staticmethod
    def _footer_row_count(path: str) -> int:
        """Row count from parquet footer metadata — no Spark job (the
        Iceberg-snapshot-metadata analog; previously a .count() job per
        table per wave, 6 jobs/wave of pure overhead)."""
        import pyarrow.parquet as pq

        total = 0
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        return total

    def write_table(self, name: str, wave: int, df: DataFrame) -> DataFrame:
        """Write one table of an in-flight wave to its staging dir;
        returns a reader over the written files (so later stages consume
        written bytes instead of recomputing the lineage). Not visible at
        the final path — to any reader — until commit() renames it."""
        path = self._staging_path(name, wave)
        schema = df.schema
        df.write.mode("overwrite").parquet(path)
        self._pending.setdefault(wave, {})[name] = self._footer_row_count(path)
        # schema recorded in the commit marker: read_table unions many
        # wave dirs and only pays a distributed mergeSchema footer sweep
        # when the recorded schemas actually differ (schema-widening code
        # change mid-store); uniform stores read plan-only
        self._pending_schemas.setdefault(wave, {})[name] = schema.json()
        # the written schema, given: no footer-inference job (the file
        # source makes every field nullable, exactly as inference would)
        return self.spark.read.schema(schema).parquet(path)

    def write_lineage(self, wave: int, source: str = "results", name: str = "lineage") -> None:
        """Per-partition lineage of an already-written wave table, derived
        from its parquet FOOTERS driver-side (pyarrow) — replaces a Spark
        read+groupBy+write round-trip that was pure per-wave overhead.
        Output files map 1:1 to the write's partitions (empty partitions
        produce no file, matching the old groupBy's absent groups)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        src = self._staging_path(source, wave)
        if not os.path.exists(src):
            src = self._table_path(source, wave)
        pids, rows = [], []
        for fname in sorted(os.listdir(src)):
            if not fname.endswith(".parquet"):
                continue
            n = pq.ParquetFile(os.path.join(src, fname)).metadata.num_rows
            if n:
                try:  # part-00007-<uuid>.snappy.parquet → partition 7
                    pids.append(int(fname.split("-")[1]))
                except (IndexError, ValueError):
                    pids.append(len(pids))
                rows.append(n)
        tbl = pa.table(
            {
                "partition_id": pa.array(pids, pa.int32()),
                "rows_out": pa.array(rows, pa.int64()),
                "wave": pa.array([wave] * len(pids), pa.int32()),
                "table": pa.array([source] * len(pids), pa.string()),
            }
        )
        self.write_rows(name, wave, tbl)

    def write_rows(self, name: str, wave: int, table) -> None:
        """Stage a small table the driver already holds (a ``pyarrow.Table``:
        lineage, a wave's metrics row) as one parquet file — no Spark job.
        Its arrow types are the Spark types it reads back as."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self._staging_path(name, wave)
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        self._pending.setdefault(wave, {})[name] = table.num_rows
        # the schema Spark reads back (every field nullable), without a read
        self._pending_schemas.setdefault(wave, {})[name] = from_arrow_schema(table.schema).json()

    def pending_count(self, wave: int, name: str) -> int:
        return self._pending.get(wave, {}).get(name, 0)

    def read_column(self, name: str, wave: int, column: str) -> list | None:
        """Driver-side read of one column of a small written wave table
        (e.g. the per-host host_state snapshot) — pyarrow, no Spark job.
        Reads staging before commit, the final path after. None if the
        per-wave dir no longer exists (vacuumed after compaction)."""
        import pyarrow.parquet as pq

        path = self._staging_path(name, wave)
        if not os.path.exists(path):
            path = self._table_path(name, wave)
        if not os.path.exists(path):
            return None
        return [
            v
            for fname in sorted(os.listdir(path))
            if fname.endswith(".parquet")
            for v in pq.read_table(os.path.join(path, fname), columns=[column])[column].to_pylist()
        ]

    def commit(self, wave: int, meta: dict | None = None) -> dict:
        """Atomically publish all tables written for this wave: rename
        each staging dir to its final ``wave=K`` path (atomic per table;
        a crash mid-commit leaves final dirs without a marker, which the
        re-run of wave K overwrites — same idempotent-replay invariant as
        before, now enforced at the file level too), then write the
        marker."""
        import shutil

        counts = self._pending.pop(wave, {})
        for name in counts:
            staging = self._staging_path(name, wave)
            final = self._table_path(name, wave)
            if os.path.exists(final):
                shutil.rmtree(final)  # orphan of a crashed commit replay
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.rename(staging, final)
        marker = {
            "wave": wave,
            "tables": sorted(counts),
            "counts": counts,
            "schemas": self._pending_schemas.pop(wave, {}),
            "meta": meta or {},
            "committed_at": time.time(),
        }
        tmp = self._marker_path(wave) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.replace(tmp, self._marker_path(wave))  # atomic commit point
        self._markers[wave] = marker
        return marker

    def write_wave(self, wave: int, tables: dict[str, DataFrame], meta: dict | None = None) -> dict:
        """Write all tables of one wave, then atomically commit the marker."""
        for name, df in tables.items():
            self.write_table(name, wave, df)
        return self.commit(wave, meta)

    def committed_waves(self) -> list[int]:
        out = []
        commit_dir = os.path.join(self.root, COMMIT_DIR)
        for name in os.listdir(commit_dir):
            if name.startswith("wave-") and name.endswith(".json"):
                out.append(int(name[len("wave-"):-len(".json")]))
        return sorted(out)

    def last_wave(self) -> int | None:
        waves = self.committed_waves()
        return waves[-1] if waves else None

    def marker(self, wave: int) -> dict:
        if wave not in self._markers:
            with open(self._marker_path(wave)) as fh:
                self._markers[wave] = json.load(fh)
        return self._markers[wave]

    # ── compaction (the Iceberg rewrite-data-files maintenance analog) ─

    def _compact_path(self, name: str, upto: int) -> str:
        return os.path.join(self.root, COMPACT_DIR, name, f"upto={upto}")

    def _compact_marker_path(self, name: str) -> str:
        return os.path.join(self.root, COMMIT_DIR, f"compact-{name}.json")

    def compact_marker(self, name: str) -> dict | None:
        try:
            with open(self._compact_marker_path(name)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    @staticmethod
    def _dir_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    def _delta_paths(self, name: str, waves: list[int]) -> list[str]:
        paths = [
            self._table_path(name, w)
            for w in waves
            if name in self.marker(w)["tables"] and self.marker(w)["counts"].get(name, 0) > 0
        ]
        return [p for p in paths if os.path.exists(p)]

    def compact(self, name: str, upto: int | None = None) -> dict:
        """Fold a table's committed wave deltas ``(prev_upto, upto]`` —
        plus the previous compact snapshot, if any — into ONE rewritten
        snapshot dir sized to ~128 MB files. The small-files answer for
        long crawls: ten thousand waves otherwise mean ten thousand tiny
        parquet dirs per table, and every read/list scales with wave
        count instead of data size (Iceberg's rewriteDataFiles action;
        here the snapshot is a dir + marker under the same atomic
        staging→rename→marker protocol as wave commits).

        Incremental by construction: re-compacting reads the previous
        snapshot + new deltas only, never re-reads folded waves. Folded
        wave dirs stay on disk (crash-safe, and explicit
        ``read_table(name, waves=[...])`` still works) until
        :meth:`vacuum` reclaims them. Semantics: union-read (delta-style)
        tables only — for snapshot-style tables (``host_state``) the
        per-wave dirs ARE the history; compacting them changes
        ``read_latest`` into a lie, so don't."""
        committed = self.committed_waves()
        if not committed:
            raise ValueError("nothing committed to compact")
        upto = committed[-1] if upto is None else upto
        if upto > committed[-1]:
            # a marker beyond the last committed wave would make waves
            # committed later with numbers <= upto invisible to default
            # reads and eligible for vacuum — irreversible loss
            raise ValueError(
                f"compact upto={upto} is beyond the last committed wave "
                f"{committed[-1]}"
            )
        prev = self.compact_marker(name)
        if prev and prev["upto"] >= upto:
            return prev
        lo = prev["upto"] if prev else -1
        folded = [w for w in committed if lo < w <= upto]
        paths = self._delta_paths(name, folded)
        schemas = self._delta_schemas(name, folded)
        if prev and prev["rows"] > 0:
            paths.insert(0, self._compact_path(name, prev["upto"]))
            schemas.insert(0, prev.get("schema_json"))
        rows = 0
        schema_json = prev.get("schema_json") if prev else None
        if paths:
            src_bytes = sum(self._dir_bytes(p) for p in paths)
            n_files = max(1, -(-src_bytes // TARGET_COMPACT_FILE_BYTES))
            staging = os.path.join(self.root, STAGING_DIR, "_compact", name, f"upto={upto}")
            # schema-aware union (see _read_union): plain read when the
            # recorded wave schemas agree, mergeSchema sweep when a
            # schema-widening code change mixed narrow and wide waves
            df = self._read_union(paths, schemas)
            schema_json = df.schema.json()
            df.repartition(n_files).write.mode("overwrite").parquet(staging)
            rows = self._footer_row_count(staging)
            final = self._compact_path(name, upto)
            if os.path.exists(final):
                import shutil

                shutil.rmtree(final)  # orphan of a crashed compact replay
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.rename(staging, final)
        marker = {
            "table": name,
            "upto": upto,
            "rows": rows + (prev["rows"] if prev and not paths else 0),
            "folded_waves": (prev["folded_waves"] if prev else []) + folded,
            "schema_json": schema_json,
            "compacted_at": time.time(),
        }
        tmp = self._compact_marker_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.replace(tmp, self._compact_marker_path(name))  # atomic
        return marker

    def vacuum(self, name: str) -> list[str]:
        """Delete wave-delta dirs folded into the CURRENT compact
        snapshot, plus superseded compact snapshots. Irreversible: after
        this, per-wave dir reads below ``upto`` are gone (rows keep their
        ``wave`` column, so row-level history survives) and a NEW
        ``results_stream`` checkpoint can no longer replay folded waves —
        vacuum after downstream consumers are caught up, like any
        snapshot-expiry."""
        import shutil

        cm = self.compact_marker(name)
        if cm is None:
            return []
        removed = []
        # only waves the snapshot actually folded — never a dir the
        # snapshot does not contain, whatever its number
        for w in cm["folded_waves"]:
            p = self._table_path(name, w)
            if os.path.exists(p):
                shutil.rmtree(p)
                removed.append(p)
        base = os.path.join(self.root, COMPACT_DIR, name)
        if os.path.isdir(base):
            for d in os.listdir(base):
                if d != f"upto={cm['upto']}":
                    p = os.path.join(base, d)
                    shutil.rmtree(p)
                    removed.append(p)
        return removed

    # ── readers (committed waves only) ───────────────────────────────

    def _delta_schemas(self, name: str, waves: list[int]) -> list[str | None]:
        return [self.marker(w).get("schemas", {}).get(name) for w in waves]

    def _read_union(self, paths: list[str], schemas: list[str | None]) -> DataFrame:
        """Union read of wave dirs. When every recorded schema is known
        and identical (the steady state), a plain read suffices — one
        footer, no distributed mergeSchema sweep, so per-wave read cost
        does not grow with wave count. Unknown (pre-schema-marker store)
        or genuinely mixed schemas take the mergeSchema path so widening
        never silently drops columns."""
        if len(paths) == 1 or (all(schemas) and len(set(schemas)) == 1):
            return self.spark.read.parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read_table(self, name: str, waves: list[int] | None = None) -> DataFrame | None:
        """Union of a table's committed wave deltas (None → all
        committed). The default read goes through the compact snapshot
        when one exists — one big dir + the tail deltas committed since —
        so read cost tracks data size, not wave count. Explicit ``waves``
        always addresses the per-wave delta dirs (pre-vacuum)."""
        if waves is None:
            cm = self.compact_marker(name)
            if cm is not None:
                tail = [w for w in self.committed_waves() if w > cm["upto"]]
                paths = (
                    [self._compact_path(name, cm["upto"])] if cm["rows"] > 0 else []
                )
                schemas = (
                    [cm.get("schema_json")] if cm["rows"] > 0 else []
                ) + self._delta_schemas(name, tail)
                paths += self._delta_paths(name, tail)
                if not paths:
                    return None
                return self._read_union(paths, schemas)
            waves = self.committed_waves()
        paths = self._delta_paths(name, waves)
        if not paths:
            return None
        # leaf wave=K dirs read as roots: no partition inference, so the
        # dir name never collides with the data wave column the wave-scoped
        # tables already carry (COLUMN_ALREADY_EXISTS warning otherwise)
        return self._read_union(paths, self._delta_schemas(name, waves))

    def read_latest(self, name: str) -> DataFrame | None:
        """Latest committed snapshot of a snapshot-style table (host_state)."""
        for wave in reversed(self.committed_waves()):
            m = self.marker(wave)
            if name in m["tables"] and m["counts"].get(name, 0) > 0:
                return self.spark.read.parquet(self._table_path(name, wave))
        return None
