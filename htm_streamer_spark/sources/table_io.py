"""Snapshot-committed parquet tables — the engine's state/table layer.

A minimal stand-in for Iceberg (whose runtime jar is unavailable in this
sandbox, SURVEY.md §7.3.6): a directory of parquet files plus a JSON
manifest that lists the committed files per logical table. Readers see
only committed files; writers stage files then publish them with one
atomic manifest swap (``os.replace``), so a crash mid-write leaves the
catalog at the previous snapshot — the write-then-mark ordering the
reference gets from saving models before config
(/root/reference/htm_streamer/pipeline/htm_stream.py:135-155).

At deploy time this binds to Iceberg: ``append`` ≙ ``writeTo(...)
.append()``, ``commit`` ≙ the snapshot commit, ``read`` ≙
``spark.read.format("iceberg").load``; checkpoint semantics are
identical.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def list_hive_partitions(spark: SparkSession, path: str | Path, col: str = "part_id") -> list[int]:
    """Partition ids of a hive-layout table from a FILESYSTEM LISTING —
    one metadata call, no Spark job. The distinct-scan alternative reads
    a column of every file, which at 10^12 rows is a full-table job just
    to learn the partition list (reference analog: dataset discovery is
    a directory walk, /root/reference/driver.py:42-55).

    Uses the Hadoop FileSystem API so the same call works on HDFS/S3A,
    not just local paths. Returns [] when the layout is not
    hive-partitioned (callers fall back to a scan).
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(str(path))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    prefix = f"{col}="
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            try:
                out.append(int(name[len(prefix):]))
            except ValueError:
                continue
    return sorted(out)


def _footer_minmax(path: Path, cols: tuple[str, ...]) -> dict:
    """File-level [min, max] per requested column from the parquet
    FOOTER (row-group statistics aggregated across groups) — metadata
    only, no data pages touched. Columns whose statistics are absent
    or whose values don't JSON-serialize are simply omitted: manifests
    must stay readable by `json`, and a missing stat only disables
    pruning for that column, never correctness."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(path)).metadata
    idx = {md.schema.column(j).name: j for j in range(md.num_columns)}
    out: dict = {}
    for col in cols:
        j = idx.get(col)
        if j is None:
            continue
        mn = mx = None
        ok = True
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if not ok or mn is None:
            continue
        if not isinstance(mn, (int, float, str)) or not isinstance(
            mx, (int, float, str)
        ):
            continue
        out[col] = [mn, mx]
    return out


class ManifestCatalog:
    """Multi-table catalog under one directory with atomic multi-table
    commits (one manifest swap publishes every staged file — the analog
    of a single Iceberg transaction across the verdicts/violations/
    baseline tables)."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(exist_ok=True)
        self._staged: list[dict] = []

    @property
    def _manifest_path(self) -> Path:
        return self.root / "manifest.json"


    def _manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"version": 0, "entries": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    # -- write path ---------------------------------------------------

    def stage_spark(
        self,
        table: str,
        df: DataFrame,
        bucket: int | None = None,
        stats_cols: tuple[str, ...] | None = None,
    ) -> None:
        """Stage a Spark DataFrame as parquet files (not yet visible).
        ``bucket`` tags the staged files with a key-hash bucket id;
        :meth:`compact` then rewrites each bucket on its own (Iceberg-style
        copy-on-write granularity). ``stats_cols`` records file-level
        min/max for those columns in the manifest entry (read from the
        parquet footers — metadata only, no data scan), enabling
        :meth:`read_pruned` to skip whole files on range predicates the
        way Iceberg prunes on its manifest stats."""
        stage_dir = self.root / "data" / f"{table}-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(str(stage_dir))
        for p in sorted(stage_dir.glob("*.parquet")):
            e = {"table": table, "file": str(p.relative_to(self.root))}
            if bucket is not None:
                e["bucket"] = int(bucket)
            if stats_cols:
                stats = _footer_minmax(p, stats_cols)
                if stats:
                    e["stats"] = stats
            self._staged.append(e)

    def restage(self, table: str, entries: list[dict]) -> None:
        """Carry existing committed files forward into the next version
        WITHOUT copying data — the manifest gains new entries pointing
        at the same parquet files. This is what lets a compaction commit
        be a complete snapshot while rewriting only the buckets that need
        it."""
        for e in entries:
            path = self.root / e["file"]
            if not path.exists():
                raise FileNotFoundError(f"restage of missing file: {path}")
            ne = {"table": table, "file": e["file"]}
            if "bucket" in e:
                ne["bucket"] = e["bucket"]
            self._staged.append(ne)

    def entries(
        self, table: str, latest_only: bool = False, as_of: int | None = None
    ) -> list[dict]:
        """Manifest entries for ``table`` (with bucket tags).
        ``latest_only`` keeps only those of the most recent version
        touching the table; ``as_of`` time-travels — entries are first
        restricted to versions ≤ ``as_of`` (Iceberg snapshot-read
        analog), then latest_only applies within that horizon."""
        entries = [e for e in self._manifest()["entries"] if e["table"] == table]
        if as_of is not None:
            entries = [e for e in entries if e.get("version", 0) <= as_of]
        if latest_only and entries:
            top = max(e.get("version", 0) for e in entries)
            entries = [e for e in entries if e.get("version", 0) == top]
        return entries

    def stage_rows(self, table: str, rows: list[dict], schema: str, spark: SparkSession) -> None:
        self.stage_spark(table, spark.createDataFrame(rows, schema))

    def commit(self, props: dict | None = None) -> int:
        """Atomically publish all staged files; returns new version."""
        m = self._manifest()
        m["version"] += 1
        for e in self._staged:
            e["version"] = m["version"]
        m["entries"].extend(self._staged)
        if props:
            m.setdefault("props", {}).update(props)
        tmp = self._manifest_path.with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)
        self._staged = []
        return m["version"]

    def abort(self) -> None:
        self._staged = []

    # -- read path ----------------------------------------------------

    def files(
        self, table: str, latest_only: bool = False, as_of: int | None = None
    ) -> list[str]:
        return [
            str(self.root / e["file"])
            for e in self.entries(table, latest_only, as_of=as_of)
        ]

    def read(
        self,
        spark: SparkSession,
        table: str,
        latest_only: bool = False,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """DataFrame over the committed files of ``table`` (None if no
        committed data). ``latest_only`` reads just the files from the
        most recent commit touching the table — latest-wins semantics
        for state tables like the baseline (reference analog: each
        timestep's pickle fully replaces the previous,
        utils/fs.py:92-130). ``as_of`` reads the table as it stood at
        that committed version (time travel; requires the versions not
        to have been expired by :meth:`expire_versions`)."""
        files = self.files(table, latest_only, as_of=as_of)
        if not files:
            return None
        return spark.read.parquet(*files)

    def read_pruned(
        self,
        spark: SparkSession,
        table: str,
        col: str,
        lo=None,
        hi=None,
        latest_only: bool = False,
        as_of: int | None = None,
    ) -> tuple[DataFrame | None, dict]:
        """Range read with manifest-level file skipping: only files
        whose recorded [min, max] for ``col`` intersects [lo, hi] are
        handed to the reader (files staged WITHOUT stats are kept —
        pruning must never be allowed to lose rows). The residual
        filter is still applied, so correctness never depends on the
        stats; they only cut the file list. Returns (df, report) where
        report carries files_total / files_read / files_skipped —
        the evidence number."""
        entries = self.entries(table, latest_only, as_of=as_of)
        kept = []
        for e in entries:
            s = e.get("stats", {}).get(col)
            if s is None:
                kept.append(e)
                continue
            mn, mx = s
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                continue
            kept.append(e)
        report = {
            "files_total": len(entries),
            "files_read": len(kept),
            "files_skipped": len(entries) - len(kept),
        }
        if not kept:
            return None, report
        df = spark.read.parquet(*[str(self.root / e["file"]) for e in kept])
        from pyspark.sql import functions as F

        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return df, report

    # -- maintenance ---------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        table: str,
        max_files: int = 1,
    ) -> int | None:
        """Small-file compaction (Iceberg ``rewrite_data_files`` analog):
        rewrite the LATEST snapshot of ``table`` so each bucket (or the
        whole table when untagged) lands in at most ``max_files`` files,
        then publish as a new version. Older versions keep pointing at
        the old files, so time travel still works until
        :meth:`expire_versions`. Returns the new version, or None if
        the snapshot is already compact."""
        current = self.entries(table, latest_only=True)
        if not current:
            return None
        by_bucket: dict[int | None, list[dict]] = {}
        for e in current:
            by_bucket.setdefault(e.get("bucket"), []).append(e)
        if all(len(es) <= max_files for es in by_bucket.values()):
            return None
        try:
            for b, es in sorted(
                by_bucket.items(), key=lambda kv: (kv[0] is None, kv[0])
            ):
                if len(es) <= max_files:
                    self.restage(table, es)
                    continue
                df = spark.read.parquet(*[str(self.root / e["file"]) for e in es])
                self.stage_spark(table, df.coalesce(max_files), bucket=b)
        except Exception:
            self.abort()
            raise
        return self.commit()

    def expire_versions(self, keep_last: int = 1) -> list[str]:
        """Expire history: drop manifest entries of versions older than
        the last ``keep_last`` commits and delete data files no longer
        referenced by any surviving version (Iceberg ``expire_snapshots``
        analog — the step that actually reclaims space after compact
        rewrites). Time travel below the horizon stops working,
        by design. Returns the deleted file paths."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the live snapshot)")
        m = self._manifest()
        horizon = m["version"] - keep_last + 1
        keep = [e for e in m["entries"] if e.get("version", 0) >= horizon]
        dropped = [e for e in m["entries"] if e.get("version", 0) < horizon]
        still_referenced = {e["file"] for e in keep}
        to_delete = sorted(
            {e["file"] for e in dropped} - still_referenced
        )
        m["entries"] = keep
        tmp = self._manifest_path.with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)
        deleted = []
        for rel in to_delete:
            p = self.root / rel
            if p.exists():
                p.unlink()
                deleted.append(str(p))
        return deleted

    def prop(self, key: str, default=None):
        return self._manifest().get("props", {}).get(key, default)

    def version(self) -> int:
        return self._manifest()["version"]

    def gc_orphans(self, older_than_seconds: float = 0.0) -> list[str]:
        """Delete data files referenced by NO manifest version and not
        currently staged — the debris of crashed or aborted stages
        (``abort()`` forgets the staged list but cannot unlink files a
        crashed process left behind; Spark VACUUM analog).

        ``older_than_seconds`` is the safety horizon: files younger
        than it are kept, since a CONCURRENT writer may be mid-stage
        (its files exist on disk but in no manifest yet). In a
        multi-writer deployment set it well above the longest stage
        duration. Returns the deleted paths (catalog-relative).
        """
        import time

        referenced = {e["file"] for e in self._manifest()["entries"]}
        referenced |= {e["file"] for e in self._staged}
        now = time.time()
        deleted: list[str] = []
        for p in sorted((self.root / "data").rglob("*.parquet")):
            rel = str(p.relative_to(self.root))
            if rel in referenced:
                continue
            if now - p.stat().st_mtime < older_than_seconds:
                continue
            p.unlink()
            deleted.append(rel)
        # a stage dir with no parquet left holds only write markers
        # (_SUCCESS etc.) — remove it whole
        for d in sorted((self.root / "data").iterdir()):
            if d.is_dir() and not any(d.rglob("*.parquet")):
                shutil.rmtree(d, ignore_errors=True)
        return deleted

    def truncate(self) -> None:
        """Reset the catalog (reference analog: ``reset_config`` stripping
        run state back to the minimal schema, config/config.py:15-33, and
        the stale-model purge, htm_stream_runner.py:62-64)."""
        if self._manifest_path.exists():
            self._manifest_path.unlink()
        shutil.rmtree(self.root / "data", ignore_errors=True)
        (self.root / "data").mkdir(exist_ok=True)
        self._staged = []


def iceberg_available(spark: SparkSession, catalog_name: str) -> bool:
    """True if an Iceberg catalog of that name is configured AND the
    Iceberg runtime classes are on the classpath."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog_name}", None)
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergCatalog:
    """The production binding: same interface as :class:`ManifestCatalog`
    (``stage_spark`` / ``commit`` / ``read`` / ``prop`` / ``version`` /
    ``truncate``) over real Iceberg tables — ``writeTo(...).append()``
    per table, snapshot commits, properties via TBLPROPERTIES.

    Deliberate semantics difference, documented: Iceberg commits are
    atomic PER TABLE, not across tables (multi-table transactions need
    REST-catalog support). ``commit`` therefore appends the violations
    and baseline tables FIRST and the verdicts table LAST, with the
    props on the verdicts table — ``done_partitions`` is derived from
    verdicts, so a crash mid-commit leaves orphaned (invisible to the
    engine) violation rows at worst, never a partition marked validated
    without its violations. Requires the iceberg-spark-runtime jar and a
    configured catalog; constructor raises when absent (tests skip).
    """

    ENGINE_TABLES = ("violations", "baseline_tok", "baseline_ntok", "verdicts")

    def __init__(self, spark: SparkSession, catalog_name: str, namespace: str):
        if not iceberg_available(spark, catalog_name):
            raise RuntimeError(
                f"Iceberg catalog {catalog_name!r} is not configured or the "
                "iceberg-spark-runtime jar is missing"
            )
        self.spark = spark
        self.catalog_name = catalog_name
        self.namespace = namespace
        self._staged: list[tuple[str, DataFrame]] = []
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog_name}.{namespace}")

    def _fqn(self, table: str) -> str:
        return f"{self.catalog_name}.{self.namespace}.{table}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(table))

    # -- write path ---------------------------------------------------

    def stage_spark(self, table: str, df: DataFrame) -> None:
        self._staged.append((table, df))

    def commit(self, props: dict | None = None) -> int:
        # order: auxiliary tables first, verdicts (the lineage anchor) last
        order = {t: i for i, t in enumerate(self.ENGINE_TABLES)}
        staged = sorted(self._staged, key=lambda kv: order.get(kv[0], -1))
        for table, df in staged:
            fqn = self._fqn(table)
            if self._exists(table):
                df.writeTo(fqn).append()
            else:
                df.writeTo(fqn).using("iceberg").create()
        self._staged = []
        if props:
            anchor = self._fqn("verdicts")
            if not self._exists("verdicts"):
                # silently dropping props would lose last_committed_epoch
                # and defeat the streaming replay guard — fail loudly
                raise RuntimeError(
                    f"cannot set properties {sorted(props)}: anchor table "
                    f"{anchor} does not exist; stage a verdicts write in the "
                    "same commit or create the table first"
                )
            # single-quote escaping: prop values carry JSON (and file
            # names) that may contain quotes
            esc = lambda s: str(s).replace("'", "''")  # noqa: E731
            kv = ", ".join(f"'{esc(k)}'='{esc(v)}'" for k, v in props.items())
            self.spark.sql(f"ALTER TABLE {anchor} SET TBLPROPERTIES ({kv})")
        return self.version()

    def abort(self) -> None:
        self._staged = []

    # -- read path ----------------------------------------------------

    def read(
        self, spark: SparkSession, table: str, latest_only: bool = False
    ) -> DataFrame | None:
        if not self._exists(table):
            return None
        fqn = self._fqn(table)
        if latest_only:
            # latest-wins state tables: only the files added by the most
            # recent snapshot (the engine fully replaces baselines)
            snap = spark.sql(
                f"SELECT snapshot_id FROM {fqn}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).collect()
            if not snap:
                return None
            prev = spark.sql(
                f"SELECT snapshot_id FROM {fqn}.snapshots ORDER BY committed_at DESC LIMIT 1 OFFSET 1"
            ).collect()
            if prev:
                return spark.read.format("iceberg").option(
                    "start-snapshot-id", prev[0][0]
                ).option("end-snapshot-id", snap[0][0]).load(fqn)
            return spark.read.table(fqn)
        return spark.read.table(fqn)

    def prop(self, key: str, default=None):
        if not self._exists("verdicts"):
            return default
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._fqn('verdicts')}"
        ).collect()
        for r in rows:
            if r["key"] == key:
                return r["value"]
        return default

    def version(self) -> int:
        if not self._exists("verdicts"):
            return 0
        snaps = self.spark.sql(
            f"SELECT count(*) FROM {self._fqn('verdicts')}.snapshots"
        ).collect()
        return int(snaps[0][0])

    def truncate(self) -> None:
        for t in self.ENGINE_TABLES:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._fqn(t)}")
        self._staged = []
