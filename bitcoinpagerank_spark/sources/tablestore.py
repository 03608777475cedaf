"""Snapshot table store: the north-rule's "partitioned Iceberg" surface.

One interface for checkpoint snapshots (ranks tables + JSON lineage
manifests), with two backends:

- ``iceberg``: selected automatically when the Iceberg Spark runtime is on
  the classpath AND a Spark catalog is configured for it — tables are
  committed with ``df.writeTo(...).createOrReplace()`` so every snapshot
  is an Iceberg snapshot commit (time-travel/rollback come for free).
  The lineage manifest additionally lands as JSON next to the catalog
  warehouse path, same as the parquet backend, so ``resume`` never needs
  to parse Iceberg metadata. This branch cannot run in the test container
  (no Iceberg jar is baked in) — it is exercised only for backend
  *selection* logic there; the write path is the documented thin mapping
  onto the public DataFrameWriterV2 API.
- ``parquet`` (fallback): partitioned parquet + an atomically-renamed
  ``manifest.json``, ALL I/O routed through the Hadoop FileSystem layer
  (``Path.getFileSystem``), so the store root may be any Hadoop-supported
  scheme — ``file://``, ``hdfs://``, ``s3a://`` — not just a
  driver-visible POSIX path.

Replaces the driver-local ``open()``/``os.replace`` manifest I/O that
previously lived inside the PageRank checkpointer (the reference's analog
is the ``iter%04d`` HDFS dir convention, RunPageRankBasic.java:359-361).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — classpath probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None. Reads only the
    ``spark.sql.catalog.*`` entries of the context's conf: a copy of the
    whole conf costs py4j round trips per entry."""
    try:
        jconf = spark.sparkContext._jsc.sc().conf()  # noqa: SLF001
        confs = [(kv._1(), kv._2()) for kv in jconf.getAllWithPrefix("spark.sql.catalog.")]
    except Exception:
        return None
    for name, cls in confs:
        if "." not in name and cls.endswith(("SparkCatalog", "SparkSessionCatalog")):
            return name
    return None


class TableStore:
    """Snapshot store rooted at ``root`` (any Hadoop FS scheme).

    ``backend`` is auto-detected: ``iceberg`` when the runtime jar loads
    and a catalog is configured, else ``parquet``.
    """

    def __init__(
        self, spark: SparkSession, root: str, backend: str | None = None
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        # the catalog conf is read first: with no Iceberg catalog the
        # classpath probe, a failing Class.forName that goes through
        # PySpark's exception conversion, never runs
        catalog = _iceberg_catalog(spark)
        if backend is None:
            backend = (
                "iceberg" if catalog and iceberg_available(spark) else "parquet"
            )
        if backend not in ("iceberg", "parquet"):
            raise ValueError(f"unknown tablestore backend {backend!r}")
        self.backend = backend
        self._catalog = catalog if backend == "iceberg" else None

    # ------------------------------------------------- Hadoop FS plumbing

    def _fs_and_path(self, path: str):
        jvm = self.spark._jvm  # noqa: SLF001 — public Hadoop FS API via py4j
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        hconf = self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
        return jpath.getFileSystem(hconf), jpath, jvm

    def _write_text(self, path: str, text: str) -> None:
        """Write-then-rename through the Hadoop FS (atomic on HDFS and
        local; best-effort on object stores, where rename is copy+delete
        but the target still never holds a torn write)."""
        fs, dest, jvm = self._fs_and_path(path)
        tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if fs.exists(dest):
            fs.delete(dest, False)
        if not fs.rename(tmp, dest):
            raise IOError(f"rename {path}.tmp -> {path} failed")

    def _read_text(self, path: str) -> str | None:
        fs, p, jvm = self._fs_and_path(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            baos = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536)
            return bytes(baos.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    # ------------------------------------------------------------ tables

    def table_path(self, name: str) -> str:
        if self.backend == "iceberg":
            # identifier, not a path: catalog.namespace.table
            ns = self.root.strip("/").replace("/", "_") or "bpr"
            return f"{self._catalog}.{ns}.{name}"
        return f"{self.root}/{name}"

    def write_table(self, df: DataFrame, name: str) -> str:
        """Snapshot-commit ``df`` under ``name``; returns the locator the
        manifest should record."""
        loc = self.table_path(name)
        if self.backend == "iceberg":
            df.writeTo(loc).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(loc)
        return loc

    def read_table(self, locator: str) -> DataFrame:
        if self.backend == "iceberg" and "://" not in locator:
            return self.spark.read.table(locator)
        return self.spark.read.parquet(locator)

    # --------------------------------------------------------- manifests

    def manifest_path(self) -> str:
        return f"{self.root}/manifest.json"

    def write_manifest(self, manifest: dict) -> None:
        self._write_text(self.manifest_path(), json.dumps(manifest))

    def write_snapshot(self, df: DataFrame, name: str, path_key: str,
                       **manifest) -> None:
        """Write ``df`` as table ``name``, then point the manifest at it:
        ``manifest`` plus the table's locator under ``path_key`` and the
        store's ``backend``."""
        loc = self.write_table(df, name)
        self.write_manifest({**manifest, path_key: loc, "backend": self.backend})

    def read_manifest(self) -> dict | None:
        text = self._read_text(self.manifest_path())
        return None if text is None else json.loads(text)

    def append_table(self, df: DataFrame, name: str) -> str:
        """Append ``df`` to the table (micro-batch sink path); creates it
        on first write. Iceberg: a real append commit; parquet: an
        append-mode write (new files only — safe under the Hadoop FS
        committer)."""
        loc = self.table_path(name)
        if self.backend == "iceberg":
            try:
                df.writeTo(loc).using("iceberg").append()
            except Exception:
                df.writeTo(loc).using("iceberg").createOrReplace()
        else:
            df.write.mode("append").parquet(loc)
        return loc

    # ------------------------------------------------------- maintenance

    def list_tables(self, prefix: str = "") -> list[str]:
        """Table names under the store root (parquet backend: directory
        listing through the Hadoop FS; Iceberg: catalog listing)."""
        if self.backend == "iceberg":
            ns = self.root.strip("/").replace("/", "_") or "bpr"
            rows = self.spark.sql(f"SHOW TABLES IN {self._catalog}.{ns}").collect()
            names = [r["tableName"] for r in rows]
        else:
            fs, p, _ = self._fs_and_path(self.root)
            if not fs.exists(p):
                return []
            names = [
                st.getPath().getName()
                for st in fs.listStatus(p)
                if st.isDirectory()
            ]
        return sorted(n for n in names if n.startswith(prefix))

    def expire_tables(self, prefix: str, keep_last: int) -> list[str]:
        """Retention: drop all but the lexicographically-last ``keep_last``
        tables matching ``prefix`` (snapshot names embed zero-padded
        iteration numbers, so lexicographic == chronological). The analog
        of Iceberg's ``expireSnapshots``; on the parquet backend each
        snapshot is its own directory, so expiry is a recursive delete —
        the manifest keeps pointing at the latest table, which is never
        expired. Returns the dropped names."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        names = self.list_tables(prefix)
        drop = names[:-keep_last] if keep_last < len(names) else []
        for name in drop:
            if self.backend == "iceberg":
                self.spark.sql(f"DROP TABLE IF EXISTS {self.table_path(name)}")
            else:
                fs, p, _ = self._fs_and_path(self.table_path(name))
                if fs.exists(p):
                    fs.delete(p, True)
        return drop

    def compact_table(self, name: str, target_partitions: int) -> str:
        """Rewrite a table to ``target_partitions`` files (small-file
        compaction — streaming appends leave one file per micro-batch,
        which at scale turns scans into metadata storms). Parquet backend:
        read → coalesce → write to ``<name>__compact`` → two-step rename
        swap: the live dir is renamed ASIDE (``<name>__old``) before the
        compacted dir takes its place, so a failed swap leaves the
        original data recoverable (a delete-then-rename would have
        already destroyed it). Iceberg: a rewrite commit on the same
        identifier (atomic by the format's snapshot semantics)."""
        loc = self.table_path(name)
        if self.backend == "iceberg":
            df = self.spark.read.table(loc).coalesce(target_partitions)
            df.writeTo(loc).using("iceberg").createOrReplace()
            return loc
        tmp_loc = self.table_path(f"{name}__compact")
        old_loc = self.table_path(f"{name}__old")
        self.spark.read.parquet(loc).coalesce(target_partitions).write.mode(
            "overwrite"
        ).parquet(tmp_loc)
        fs, dest, jvm = self._fs_and_path(loc)
        hpath = jvm.org.apache.hadoop.fs.Path
        tmp, old = hpath(tmp_loc), hpath(old_loc)
        fs.delete(old, True)  # leftover from an earlier crashed swap
        if not fs.rename(dest, old):
            raise IOError(f"compaction swap failed moving {loc} aside")
        if not fs.rename(tmp, dest):
            # roll the original back into place before failing
            fs.rename(old, dest)
            raise IOError(f"compaction swap failed for {loc}")
        fs.delete(old, True)
        return loc
