"""Round-versioned table IO — the Iceberg-shaped state layer.

The design target is Iceberg tables (``MERGE INTO frontier``, snapshot
reads for exact resume — BASELINE.json north_star). This sandbox has
no Iceberg runtime jar, so the same contract is implemented on plain
parquet (SURVEY.md §7.5):

* a *snapshot* table writes a full copy per round under
  ``<name>/round=K/`` — Iceberg snapshot analog;
* an *append* table adds ``<name>/round=K/`` deltas — Iceberg
  append analog; reading unions all committed rounds;
* a commit marker ``_commits/round_K.json`` is written **last**, so a
  crash mid-round leaves the previous round fully consistent and
  resume is exact (reference analog: crawler resume via LoadPages,
  mainCrawler.go:95-98, and the DNS log-file history, mainDNS.go:69-84).

Read schemas: every round of a table shares one schema (the same
columns in the same order — writers keep it so), so a ``StateStore``
reads each table with a *known* schema instead of letting
``spark.read.parquet`` infer it (inference starts a one-task Spark job
per call to read a footer). The schema of a table is the one its own
write in this store produced (the written schema made nullable, which is
exactly what parquet inference returns); a table this store has not
written — a resumed crawl's earlier rounds — is inferred once, on its
first read, and reused after that. Flat reads (``read_snapshot``,
``read_appends``) and bucket-leaf reads (``read_buckets``, which omit
the bucket partition column) keep separate schemas. Each table's read
schema is also saved on its first write in a process, atomically, as
``<root>/_schemas/<name>-<leaf|flat>.json``; a ``StateStore`` opened on
an existing root (a resumed crawl) reads that file instead of inferring,
so only a store written before the files existed pays the one inference
per table.

The query layer reads its single-file input tables through the same
rule: ``read_parquet_file`` infers a file's schema once per process and
reads with ``spark.read.schema(s).parquet(path)`` after that. The cached
schema is checked against the file's ``(st_mtime_ns, st_size)``, so a
rewritten file is inferred again.

With Iceberg jars present, ``frontier`` becomes one table with
``MERGE INTO`` per round and time-travel for resume; this module is the
only piece that would change.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


# absolute path → ((st_mtime_ns, st_size), schema); see read_parquet_file
_FILE_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def read_parquet_file(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a single parquet file without the
    per-call schema-inference job: the schema is inferred on the first
    read of the file in this process and reused while the file's
    ``(st_mtime_ns, st_size)`` is unchanged (module docstring)."""
    key = os.path.abspath(path)
    st = os.stat(key)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _FILE_SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)  # the one inference for this version of the file
    _FILE_SCHEMAS[key] = (stamp, df.schema)
    return df


def _replace_file(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically: a reader sees the old file
    or the new one, never a partial write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable — the schema
    parquet inference reports for data written with schema ``t``."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


class StateStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        # (table name, leaf read?) → read schema; see the module docstring
        self._schemas: dict[tuple[str, bool], StructType] = {}

    # ---- schema-known reads ----------------------------------------------

    def _schema_path(self, name: str, leaf: bool) -> str:
        return os.path.join(self.root, "_schemas", f"{name}-{'leaf' if leaf else 'flat'}.json")

    def _remember(self, df: DataFrame, name: str, leaf: bool, drop: str | None = None) -> None:
        fields = [f for f in df.schema.fields if f.name != drop]
        schema = _nullable(StructType(fields))
        if self._schemas.get((name, leaf)) == schema:
            return
        self._schemas[(name, leaf)] = schema
        path = self._schema_path(name, leaf)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _replace_file(path, schema.json())

    def _read(self, spark: SparkSession, name: str, paths: list[str], leaf: bool) -> DataFrame:
        key = (name, leaf)
        if key not in self._schemas:
            try:
                with open(self._schema_path(name, leaf)) as f:
                    self._schemas[key] = StructType.fromJson(json.load(f))
            except FileNotFoundError:
                df = spark.read.parquet(*paths)  # the one inference for this table
                self._schemas[key] = df.schema
                return df
        return spark.read.schema(self._schemas[key]).parquet(*paths)

    # ---- commit protocol ----------------------------------------------

    def committed_rounds(self) -> list[int]:
        d = os.path.join(self.root, "_commits")
        out = []
        for f in os.listdir(d):
            if f.startswith("round_") and f.endswith(".json"):
                out.append(int(f[6:-5]))
        return sorted(out)

    def last_round(self) -> int | None:
        rs = self.committed_rounds()
        return rs[-1] if rs else None

    def commit(self, round_no: int, meta: dict) -> None:
        path = os.path.join(self.root, "_commits", f"round_{round_no}.json")
        # atomic → marker is all-or-nothing
        _replace_file(path, json.dumps({"round": round_no, **meta}))

    def meta(self, round_no: int) -> dict:
        with open(os.path.join(self.root, "_commits", f"round_{round_no}.json")) as f:
            return json.load(f)

    # ---- snapshot tables ------------------------------------------------

    def _dir(self, name: str, round_no: int) -> str:
        return os.path.join(self.root, name, f"round={round_no}")

    def write_snapshot(self, df: DataFrame, name: str, round_no: int) -> None:
        df.write.mode("overwrite").parquet(self._dir(name, round_no))
        self._remember(df, name, leaf=False)

    def read_snapshot(self, spark: SparkSession, name: str, round_no: int) -> DataFrame:
        return self._read(spark, name, [self._dir(name, round_no)], leaf=False)

    # ---- append tables ---------------------------------------------------

    def append(self, df: DataFrame, name: str, round_no: int) -> None:
        # same write path as snapshots on purpose (a per-round append IS
        # a snapshot of that round's delta); delegating keeps the two
        # formats from drifting apart — e.g. under an Iceberg swap-in
        self.write_snapshot(df, name, round_no)

    def read_appends(
        self, spark: SparkSession, name: str, upto_round: int
    ) -> DataFrame | None:
        """Union of COMMITTED per-round dirs only: a crash mid-write
        leaves a round dir with no commit marker, and adopting it would
        break the module's crash-consistency protocol (the marker, not
        directory existence, is the truth — same rule the engine's
        resume follows)."""
        dirs = [
            self._dir(name, r)
            for r in self.committed_rounds()
            if r <= upto_round and os.path.isdir(self._dir(name, r))
        ]
        if not dirs:
            return None
        return self._read(spark, name, dirs, leaf=False)

    def exists(self, name: str, round_no: int) -> bool:
        return os.path.isdir(self._dir(name, round_no))

    # ---- bucketed tables (Iceberg partition-overwrite analog) -----------

    def write_bucketed(
        self, df: DataFrame, name: str, round_no: int, bucket_col: str = "pbucket"
    ) -> list[int]:
        """Write a bucket-partitioned snapshot containing ONLY the
        buckets present in ``df`` (Iceberg dynamic partition overwrite
        analog). Returns the bucket ids actually written — an empty
        bucket produces no dir, so callers drop it from their manifest.

        The overwrite is pinned to static mode: the manifest is derived
        from a listdir of the round dir, so under a session-level
        ``partitionOverwriteMode=dynamic`` a crashed earlier attempt's
        stale bucket dirs would survive the re-run's overwrite and be
        adopted into the new manifest — pending rows from an abandoned
        timeline. Static mode clears the whole round dir first."""
        d = self._dir(name, round_no)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(bucket_col)
            .parquet(d)
        )
        self._remember(df, name, leaf=True, drop=bucket_col)
        pref = bucket_col + "="
        return sorted(
            int(p[len(pref):]) for p in os.listdir(d) if p.startswith(pref)
        )

    # ---- key-bucketed tables (Iceberg bucket-transform analog) -----------

    def _table_ident(self, name: str, round_no: int) -> str:
        """Session-catalog identifier for a key-bucketed round table —
        salted with the store root so two StateStores in one session
        (tests, A/B runs) never collide."""
        digest = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:10]
        return f"ncs_{digest}_{name}_r{round_no}"

    def write_keyed_bucketed(
        self,
        df: DataFrame,
        name: str,
        round_no: int,
        key_cols: list[str],
        n_key_buckets: int,
        bucket_col: str = "sbucket",
    ) -> list[int]:
        """``write_bucketed`` plus Spark data-source bucketing on
        ``key_cols`` (the Iceberg ``bucket(N, key)`` transform analog):
        each ``bucket_col`` partition dir holds ``n_key_buckets``
        key-hash-clustered, key-sorted files, and the session catalog
        records the bucket spec. A downstream equi-join on exactly
        ``key_cols`` then reads this table with
        ``HashPartitioning(key_cols, N)`` satisfied FROM STORAGE — the
        storage-partitioned join the 10^10-row seen probe needs: zero
        Exchange on this side regardless of the other side's size.

        The files are plain parquet in the same ``<name>/round=K/
        <bucket_col>=B/`` layout, so ``read_buckets`` (and any plain
        ``spark.read.parquet``) keeps working for consumers that don't
        need the partitioning, and the commit-marker crash protocol is
        unchanged — the table is still an immutable per-round snapshot.
        Returns the bucket ids actually written, like write_bucketed."""
        d = self._dir(name, round_no)
        spark = df.sparkSession
        ident = self._table_ident(name, round_no)
        # a crashed earlier attempt may have left a catalog entry with a
        # stale schema/spec; overwrite-through-drop keeps this idempotent
        spark.sql(f"DROP TABLE IF EXISTS {ident}")
        (
            df.write.mode("overwrite")
            .partitionBy(bucket_col)
            .bucketBy(n_key_buckets, *key_cols)
            .sortBy(*key_cols)
            .option("path", d)
            .saveAsTable(ident)
        )
        self._remember(df, name, leaf=True, drop=bucket_col)
        pref = bucket_col + "="
        return sorted(
            int(p[len(pref):]) for p in os.listdir(d) if p.startswith(pref)
        )

    def read_keyed_bucketed(
        self,
        spark: SparkSession,
        name: str,
        round_no: int,
        key_cols: list[str],
        n_key_buckets: int,
        bucket_col: str = "sbucket",
    ) -> DataFrame:
        """Catalog-table scan of a ``write_keyed_bucketed`` round. The
        bucket spec lives only in the session catalog (parquet footers
        carry no bucketing metadata), so on a fresh session (resume)
        the table is re-registered over the existing files with the
        SAME spec — ``key_cols``/``n_key_buckets`` come from the
        caller's commit meta, never guessed, because registering a
        wrong modulus would make the storage-partitioned join silently
        co-partition misplaced rows and drop matches."""
        ident = self._table_ident(name, round_no)
        if not spark.catalog.tableExists(ident):
            d = self._dir(name, round_no)
            leaves = [
                os.path.join(d, p) for p in sorted(os.listdir(d))
                if p.startswith(bucket_col + "=")
            ]
            data_cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in self._read(spark, name, leaves, leaf=True).schema.fields
            )
            keys = ", ".join(f"`{k}`" for k in key_cols)
            spark.sql(
                f"CREATE TABLE {ident} ({data_cols}, `{bucket_col}` INT) "
                f"USING parquet PARTITIONED BY (`{bucket_col}`) "
                f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
                f"INTO {n_key_buckets} BUCKETS LOCATION '{d}'"
            )
            spark.sql(f"MSCK REPAIR TABLE {ident}")
        return spark.table(ident)

    def read_buckets(
        self,
        spark: SparkSession,
        name: str,
        manifest: dict[int, int],
        bucket_col: str = "pbucket",
    ) -> DataFrame | None:
        """Read the union of per-bucket leaf dirs named by ``manifest``
        (bucket → round of its latest version). Each bucket is read from
        exactly one round — this is what makes per-round maintenance
        O(touched buckets) instead of O(frontier)."""
        dirs = [
            os.path.join(self._dir(name, r), f"{bucket_col}={b}")
            for b, r in sorted(manifest.items())
        ]
        if not dirs:
            return None
        return self._read(spark, name, dirs, leaf=True)
