"""Index storage SPI — the Python counterpart of the reference's Storage
interface (reference: src/Index/Storage.php:14-164, implemented there by
FileIndex / DbalStorage / RedisStorage). Here a storage owns the two index
relations (docs, postings) and the transactional commit that flush() needs:

    commit(new_docs, new_postings, replaced_doc_ids)
        == MERGE INTO docs USING batch ON doc_id WHEN MATCHED THEN
           UPDATE ... WHEN NOT MATCHED THEN INSERT ...   (north_rule)

Backends:

- ``MemoryStorage`` — the relations as materialised RDD blocks in
  executor memory. A commit merges by the batch's doc ids (an IN-list
  known on the driver) and runs one eager ``localCheckpoint`` per
  relation: docs, postings and doclens. The checkpoint cuts lineage, so
  K incremental flushes plan against a flat scan, not a K-deep
  union/filter chain.
- ``ParquetSnapshotStorage`` — a transactional parquet table implementing
  the Iceberg *merge-on-read* model in miniature: each commit appends
  immutable data files plus a delete file (replaced doc_ids) and publishes
  an atomically-renamed snapshot manifest; readers resolve deletes with
  one anti-join (delete applies to strictly earlier data files);
  ``compact()`` is the copy-on-write rewrite job. Crash-safe: a commit is
  visible iff its manifest rename happened; orphan data files from a
  crashed commit are ignored and removed by compact().
- ``DuckDBStorage`` — SQL-database persistence (the reference's
  DbalStorage analogue, src/Index/DbalStorage.php:23-192): docs/postings
  as tables in one DuckDB file, commits as single SQL transactions,
  Arrow interchange both ways.
- ``KVStorage`` — key-value persistence over a stdlib ``dbm`` store: the
  architectural analogue of the reference's RedisStorage
  (src/Index/RedisStorage.php:28-234 — docs under per-id keys, posting
  sets under per-(field,term) keys, plus a reverse doc->keys map for
  removal). No Redis server or client exists in this sandbox; the dbm
  file plays the remote KV server's role behind the identical key
  protocol, closing the S6 matrix row with a 5th executable backend.
- ``IcebergStorage`` — the real thing behind the same seam: issues
  ``MERGE INTO`` / ``DELETE`` through a configured Spark Iceberg catalog.
  This sandbox ships no Iceberg runtime jars (documented in STATUS.md), so
  construction verifies the catalog and raises a clear error otherwise;
  the SQL it would run is real and unit-testable by inspection.

At 100 TB the ParquetSnapshotStorage/IcebergStorage read path is the
serving model: immutable sorted segment files + a small delete set, with
compaction amortizing rewrites — never an unbounded in-memory lineage.
"""

from __future__ import annotations

import json
import os
import time
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession, functions as F

from phphinder_spark.functions.frames import local_frame
from phphinder_spark.index.builder import build_doclens


class IndexStorage(ABC):
    """Transactional owner of the (docs, postings) relations."""

    # True when docs() and postings() are already materialised in
    # executor memory, so a reader puts no cache of its own on top
    resident = False

    @abstractmethod
    def docs(self) -> DataFrame: ...

    @abstractmethod
    def postings(self) -> DataFrame: ...

    def doclens(self) -> DataFrame | None:
        """(doc_id, field, dl) when the storage keeps it; None: readers
        derive it from postings()."""
        return None

    @abstractmethod
    def commit(
        self,
        new_docs: DataFrame,
        new_postings: DataFrame,
        replaced_doc_ids: list[int],
    ) -> None:
        """Atomically upsert one flushed batch: rows for ``replaced_doc_ids``
        are superseded; the new rows become visible. MERGE INTO
        semantics. The caller lists the batch's own doc ids there too
        (``SparkSearchEngine.flush`` passes exactly the batch's ids, which
        reuse the replaced ones): ``MemoryStorage`` merges by that list
        alone, while the other backends also supersede any doc_id present
        in ``new_docs`` by themselves."""

    def seed(self, docs: DataFrame, postings: DataFrame, doclens: DataFrame) -> None:
        """Take a bulk-built index as the storage's first content. The
        default commits it; ``MemoryStorage`` adopts the frames as they
        are, for its next commit to merge into and materialise."""
        self.commit(docs, postings, [])

    @abstractmethod
    def truncate(self) -> None: ...

    @property
    @abstractmethod
    def is_empty(self) -> bool: ...


class MemoryStorage(IndexStorage):
    """Docs, postings and doclens as materialised RDD blocks.

    A commit merges each relation as ``base.where(~doc_id IN ids) ∪
    batch``, where ``ids`` is ``replaced_doc_ids``, which must list the
    batch's own doc ids (see ``IndexStorage.commit``): a driver-side
    IN-list bounded by the batch, so no join runs. The batch itself is
    driver-sized rows: its doclens aggregate runs in one partition. The
    union is coalesced back to the base's partition count (``_bounded``)
    and materialised by one eager ``localCheckpoint``, which also cuts
    the lineage, so the K-th flush plans against a flat scan — not K
    stacked union/filter layers. So every commit rewrites each relation
    whole, a cost that grows with the index, not the batch. The
    checkpoints are the only copy:
    readers put no cache on top (``resident``), and a commit releases
    the blocks of the checkpoints it replaces, so a DataFrame planned
    over the storage before a commit must not run after it (it may fail
    with "Checkpoint block ... not found").

    ``seed`` adopts a bulk-built (cached) index as the base without
    copying it; the next commit materialises the merge, after which the
    caller may release the bulk caches."""

    resident = True

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._docs: DataFrame | None = None
        self._postings: DataFrame | None = None
        self._doclens: DataFrame | None = None
        # whether the frames are this storage's own checkpoints, whose
        # blocks it releases, or adopted by seed()
        self._own = False

    def docs(self) -> DataFrame:
        if self._docs is None:
            raise RuntimeError("storage is empty")
        return self._docs

    def postings(self) -> DataFrame:
        if self._postings is None:
            raise RuntimeError("storage is empty")
        return self._postings

    def doclens(self) -> DataFrame | None:
        return self._doclens

    @property
    def is_empty(self) -> bool:
        return self._docs is None

    def seed(self, docs, postings, doclens):
        self._release()
        self._docs, self._postings, self._doclens = docs, postings, doclens
        self._own = False

    def commit(self, new_docs, new_postings, replaced_doc_ids):
        # the batch is driver rows, small enough for one partition, where
        # its aggregate needs no shuffle (one partition satisfies any
        # clustering), so the doclens checkpoint stays one job under
        # adaptive execution
        new_doclens = build_doclens(new_postings.coalesce(1))
        frames = (new_docs, new_postings, new_doclens)
        if self._docs is not None:
            keep = ~F.col("doc_id").isin(sorted({int(i) for i in replaced_doc_ids}))
            frames = tuple(
                self._bounded(base.where(keep).unionByName(new), base)
                for base, new in zip((self._docs, self._postings, self._doclens), frames)
            )
        merged = tuple(f.localCheckpoint(eager=True) for f in frames)
        self._release()
        self._docs, self._postings, self._doclens = merged
        self._own = True

    def _bounded(self, merged: DataFrame, base: DataFrame) -> DataFrame:
        """``merged`` coalesced to the base's partition count, or to the
        session parallelism when that is higher: without the bound every
        flush would add the batch's partitions, and tasks to every later
        query."""
        sc = self.spark.sparkContext
        return merged.coalesce(max(base.rdd.getNumPartitions(), sc.defaultParallelism))

    def _release(self) -> None:
        """Free the blocks of this storage's own checkpoints (a
        checkpointed frame's plan is the ``LogicalRDD`` over them)."""
        if self._own:
            for df in (self._docs, self._postings, self._doclens):
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        self._own = False

    def truncate(self) -> None:
        self._release()
        self._docs = None
        self._postings = None
        self._doclens = None


class ParquetSnapshotStorage(IndexStorage):
    """Merge-on-read snapshot table over plain parquet + manifest commits.

    Layout::

        <root>/data/docs-<seq>.parquet       immutable data files
        <root>/data/postings-<seq>.parquet
        <root>/deletes/del-<seq>.parquet     (doc_id) delete files
        <root>/snap-<seq>.json               snapshot manifest
        <root>/CURRENT                       atomic pointer (rename commit)

    A delete file with sequence s applies to data files with sequence < s
    (rows re-inserted by the same or a later commit survive). The read
    plan is ``union(data) ANTI JOIN (deletes where del.seq > row.seq)`` —
    one broadcast-able anti-join, never an accumulated driver-side list."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "deletes"), exist_ok=True)
        self._snapshot = self._load_current()

    # ---------------------------------------------------------- manifest
    def _load_current(self) -> dict:
        cur = os.path.join(self.root, "CURRENT")
        if os.path.exists(cur):
            with open(cur) as fh:
                snap_name = fh.read().strip()
            with open(os.path.join(self.root, snap_name)) as fh:
                return json.load(fh)
        return {"seq": 0, "docs": [], "postings": [], "deletes": []}

    def _publish(self, snap: dict) -> None:
        name = f"snap-{snap['seq']}.json"
        path = os.path.join(self.root, name)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(snap, fh, indent=2, sort_keys=True)
        os.replace(tmp, path)
        cur_tmp = os.path.join(self.root, "CURRENT.tmp")
        with open(cur_tmp, "w") as fh:
            fh.write(name)
        os.replace(cur_tmp, os.path.join(self.root, "CURRENT"))
        self._snapshot = snap

    @property
    def is_empty(self) -> bool:
        return not self._snapshot["docs"]

    # -------------------------------------------------------------- read
    def _read_live(self, entries: list[dict]) -> DataFrame | None:
        """Union the listed data files (tagged with their commit seq) and
        anti-join deletes from strictly later commits."""
        if not entries:
            return None
        parts = [
            self.spark.read.parquet(os.path.join(self.root, e["file"]))
            .withColumn("_seq", F.lit(e["seq"]))
            for e in entries
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        dels = self._snapshot["deletes"]
        if dels:
            dparts = [
                self.spark.read.parquet(os.path.join(self.root, e["file"]))
                .select("doc_id", F.lit(e["seq"]).alias("_dseq"))
                for e in dels
            ]
            ddf = dparts[0]
            for p in dparts[1:]:
                ddf = ddf.unionByName(p)
            df = df.join(
                ddf,
                (df["doc_id"] == ddf["doc_id"]) & (ddf["_dseq"] > df["_seq"]),
                "left_anti",
            )
        return df.drop("_seq")

    def docs(self) -> DataFrame:
        out = self._read_live(self._snapshot["docs"])
        if out is None:
            raise RuntimeError("storage is empty")
        return out

    def postings(self) -> DataFrame:
        out = self._read_live(self._snapshot["postings"])
        if out is None:
            raise RuntimeError("storage is empty")
        return out

    # ------------------------------------------------------------- write
    def commit(self, new_docs, new_postings, replaced_doc_ids):
        seq = self._snapshot["seq"] + 1
        docs_file = f"data/docs-{seq}.parquet"
        post_file = f"data/postings-{seq}.parquet"
        new_docs.write.mode("overwrite").parquet(os.path.join(self.root, docs_file))
        new_postings.write.mode("overwrite").parquet(
            os.path.join(self.root, post_file)
        )
        snap = {
            "seq": seq,
            "docs": self._snapshot["docs"] + [{"seq": seq, "file": docs_file}],
            "postings": self._snapshot["postings"]
            + [{"seq": seq, "file": post_file}],
            "deletes": list(self._snapshot["deletes"]),
            "committed_at": time.time(),
        }
        # delete file covers replaced ids AND the batch's own ids (MERGE
        # "WHEN MATCHED" arm): rows in earlier files with these ids die.
        # Written as a DataFrame job — no driver-side collect of ids, so
        # the bulk-seed commit of a huge corpus stays distributed (and no
        # delete file is needed at all for the very first commit)
        if self._snapshot["docs"]:
            del_df = new_docs.select("doc_id")
            if replaced_doc_ids:
                del_df = del_df.unionByName(
                    local_frame(
                        self.spark,
                        [(int(i),) for i in sorted(set(replaced_doc_ids))],
                        "doc_id long",
                    )
                )
            del_file = f"deletes/del-{seq}.parquet"
            del_df.distinct().write.mode("overwrite").parquet(
                os.path.join(self.root, del_file)
            )
            snap["deletes"] = snap["deletes"] + [{"seq": seq, "file": del_file}]
        self._publish(snap)

    def compact(self) -> None:
        """Copy-on-write rewrite: fold all deltas + deletes into one data
        file per relation and drop the delete set (the Iceberg
        rewrite_data_files + rewrite_position_delete_files job)."""
        if self.is_empty:
            return
        seq = self._snapshot["seq"] + 1
        docs_file = f"data/docs-{seq}.parquet"
        post_file = f"data/postings-{seq}.parquet"
        live_docs = self.docs()
        live_post = self.postings()
        live_docs.write.mode("overwrite").parquet(os.path.join(self.root, docs_file))
        live_post.write.mode("overwrite").parquet(os.path.join(self.root, post_file))
        old = self._snapshot
        self._publish(
            {
                "seq": seq,
                "docs": [{"seq": seq, "file": docs_file}],
                "postings": [{"seq": seq, "file": post_file}],
                "deletes": [],
                "compacted_from": old["seq"],
                "committed_at": time.time(),
            }
        )
        self._remove_unreferenced()

    def _remove_unreferenced(self) -> None:
        """Physically remove data/delete files and snapshot manifests not
        referenced by the CURRENT snapshot — superseded deltas after
        compact() and orphans from crashed commits. Runs only after a
        successful publish, so readers of CURRENT never lose a file."""
        import shutil

        live = {
            e["file"]
            for e in self._snapshot["docs"]
            + self._snapshot["postings"]
            + self._snapshot["deletes"]
        }
        for sub in ("data", "deletes"):
            base = os.path.join(self.root, sub)
            for name in os.listdir(base):
                rel = f"{sub}/{name}"
                if rel not in live:
                    shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        cur_snap = f"snap-{self._snapshot['seq']}.json"
        for name in os.listdir(self.root):
            if name.startswith("snap-") and name.endswith(".json") and name != cur_snap:
                os.remove(os.path.join(self.root, name))

    def truncate(self) -> None:
        self._publish(
            {"seq": self._snapshot["seq"] + 1, "docs": [], "postings": [], "deletes": []}
        )
        self._remove_unreferenced()


class DuckDBStorage(IndexStorage):
    """SQL-database persistence — the counterpart of the reference's
    DbalStorage (src/Index/DbalStorage.php:23-192: docs + postings as SQL
    tables behind the same Storage interface, transactional upsert).

    Tables ``<name>_docs`` / ``<name>_postings`` in one DuckDB database
    file; a commit is one SQL transaction (DELETE superseded ids +
    INSERT the batch — MERGE semantics; DuckDB's WAL makes it crash-
    atomic). Data moves through Arrow both ways (Spark ``toArrow`` /
    ``createDataFrame(pyarrow.Table)``), so postings' ``array<int>``
    round-trips as ``INTEGER[]`` without per-row Python.

    Scale note (same as the reference's Dbal backend): a single SQL
    database is the small/medium-corpus persistence choice — reads and
    commits funnel through the driver. The SPI keeps it swappable for
    ParquetSnapshotStorage/IcebergStorage when the corpus outgrows it."""

    def __init__(self, spark: SparkSession, db_path: str, name: str = "idx"):
        import duckdb

        self.spark = spark
        self.docs_table = f"{name}_docs"
        self.postings_table = f"{name}_postings"
        self.con = duckdb.connect(db_path)

    def _has(self, table: str) -> bool:
        return bool(
            self.con.execute(
                "SELECT count(*) FROM duckdb_tables() WHERE table_name = ?",
                [table],
            ).fetchone()[0]
        )

    @property
    def is_empty(self) -> bool:
        return not self._has(self.docs_table)

    def _read(self, table: str) -> DataFrame:
        if not self._has(table):
            raise RuntimeError("storage is empty")
        return self.spark.createDataFrame(
            self.con.execute(f"SELECT * FROM {table}").arrow()
        )

    def docs(self) -> DataFrame:
        return self._read(self.docs_table)

    def postings(self) -> DataFrame:
        return self._read(self.postings_table)

    def commit(self, new_docs, new_postings, replaced_doc_ids):
        docs_arrow = new_docs.toArrow()
        post_arrow = new_postings.toArrow()
        con = self.con
        con.register("_batch_docs", docs_arrow)
        con.register("_batch_postings", post_arrow)
        try:
            con.execute("BEGIN")
            if not self._has(self.docs_table):
                con.execute(
                    f"CREATE TABLE {self.docs_table} AS SELECT * FROM _batch_docs"
                )
                con.execute(
                    f"CREATE TABLE {self.postings_table} "
                    "AS SELECT * FROM _batch_postings"
                )
            else:
                ids = sorted(set(int(i) for i in replaced_doc_ids))
                for table in (self.docs_table, self.postings_table):
                    con.execute(
                        f"DELETE FROM {table} WHERE doc_id IN "
                        "(SELECT doc_id FROM _batch_docs)"
                    )
                    if ids:
                        con.execute(
                            f"DELETE FROM {table} WHERE doc_id IN "
                            f"({', '.join(str(i) for i in ids)})"
                        )
                con.execute(
                    f"INSERT INTO {self.docs_table} SELECT * FROM _batch_docs"
                )
                con.execute(
                    f"INSERT INTO {self.postings_table} "
                    "SELECT * FROM _batch_postings"
                )
            con.execute("COMMIT")
        except Exception:
            con.execute("ROLLBACK")
            raise
        finally:
            con.unregister("_batch_docs")
            con.unregister("_batch_postings")

    def truncate(self) -> None:
        for t in (self.docs_table, self.postings_table):
            self.con.execute(f"DROP TABLE IF EXISTS {t}")


class KVStorage(IndexStorage):
    """Key-value persistence over a stdlib ``dbm`` database — the
    reference RedisStorage's role (src/Index/RedisStorage.php:28-234)
    behind the same Storage SPI, with the same key protocol a remote KV
    server would serve:

        doc:<id>            JSON of the stored document row
        post:<field>\\x1f<term>   JSON {doc_id: [tf, positions]}
        docpost:<id>        JSON list of post-keys containing this doc
                            (the reverse map that makes doc replacement
                            O(|doc's terms|), as the reference achieves by
                            re-tokenizing the stored doc on update)
        meta:docs_schema    Spark schema JSON for the docs relation

    Scale note (identical to the reference's Redis backend): per-key
    read-modify-write through one connection — an interactive/small-corpus
    persistence choice. The SPI keeps it swappable for
    ParquetSnapshotStorage/IcebergStorage at bulk scale. Commits are NOT
    multi-key atomic (neither are the reference's non-MULTI Redis writes);
    single-writer assumed.

    Driver-memory bound: ``commit`` streams both frames through
    ``toLocalIterator`` (one partition resident at a time, never a full
    ``collect``), and ``_MAX_COMMIT_ROWS`` fail-fasts a batch that should
    have gone to a bulk backend instead of a per-key KV store."""

    # A KV commit is per-key driver I/O, so a batch this large is a wrong
    # backend choice, not a capacity problem — fail fast with the guidance
    # instead of grinding through millions of dbm round-trips.
    _MAX_COMMIT_ROWS = 2_000_000

    _SEP = "\x1f"

    def __init__(self, spark: SparkSession, db_path: str):
        import dbm

        self.spark = spark
        self._dbm = dbm
        self.db_path = db_path
        # touch the store so is_empty/docs() see a consistent file set
        with dbm.open(db_path, "c"):
            pass

    def _open(self, flag: str = "r"):
        return self._dbm.open(self.db_path, flag)

    def _raise_too_big(self, what: str) -> None:
        raise ValueError(
            f"KVStorage.commit batch of {what} exceeds "
            f"_MAX_COMMIT_ROWS={self._MAX_COMMIT_ROWS}: a per-key KV "
            "store is the interactive backend — use "
            "ParquetSnapshotStorage (bulk MERGE snapshots) for batches "
            "this size"
        )

    @property
    def is_empty(self) -> bool:
        with self._open("r") as db:
            return b"meta:docs_schema" not in db

    def docs(self) -> DataFrame:
        from pyspark.sql import types as T

        with self._open("r") as db:
            if b"meta:docs_schema" not in db:
                raise RuntimeError("storage is empty")
            schema = T.StructType.fromJson(json.loads(db[b"meta:docs_schema"]))
            rows = [
                tuple(json.loads(db[k])[f.name] for f in schema.fields)
                for k in db.keys()
                if k.startswith(b"doc:")
            ]
        return self.spark.createDataFrame(rows, schema)

    def postings(self) -> DataFrame:
        with self._open("r") as db:
            if b"meta:docs_schema" not in db:
                raise RuntimeError("storage is empty")
            rows = []
            for k in db.keys():
                if not k.startswith(b"post:"):
                    continue
                field, term = k[5:].decode("utf-8").split(self._SEP, 1)
                for doc_id, (tf, positions) in json.loads(db[k]).items():
                    rows.append((field, term, int(doc_id), int(tf), positions))
        return self.spark.createDataFrame(
            rows,
            "field string, term string, doc_id long, tf long, positions array<int>",
        )

    def commit(self, new_docs, new_postings, replaced_doc_ids):
        # driver-memory bound: rows stream partition-at-a-time via
        # toLocalIterator (never a whole-batch collect); the only
        # whole-batch driver structures are the id set and the reverse
        # post-key map — O(batch ids + batch vocabulary), not O(rows).
        # Each input PARTITION is evaluated exactly ONCE (LAZY
        # localCheckpoint at entry: every computed partition is cached on
        # first touch, so the id scan, the guard probes and the insert
        # streams all read the same blocks and a non-deterministic input
        # — rand/monotonically_increasing_id/mutable source — cannot make
        # the delete arm's batch_ids diverge from the inserted rows).
        # Lazy (not eager) matters for the guard itself: an oversized
        # batch must fail fast, BEFORE the whole frame materializes into
        # executor memory/disk blocks — both probes stream partition-at-
        # a-time (toLocalIterator) and raise the moment the cap is
        # crossed, so partitions past the crossing point NEVER run
        # (round-7 fix; eager checkpointing paid full materialization
        # before the guard could trip). An under-budget probe drains —
        # and therefore caches — every partition, so the insert streams
        # below re-read the same blocks, not the DAG.
        new_docs = new_docs.localCheckpoint(eager=False)
        new_postings = new_postings.localCheckpoint(eager=False)
        batch_ids: set[int] = set()
        n_docs = 0
        for r in new_docs.select("doc_id").toLocalIterator():
            batch_ids.add(int(r["doc_id"]))
            n_docs += 1
            if n_docs > self._MAX_COMMIT_ROWS:
                self._raise_too_big(f"> {self._MAX_COMMIT_ROWS} doc rows")
        post_budget = self._MAX_COMMIT_ROWS - n_docs
        n_post = 0
        for _ in new_postings.select(F.lit(1)).toLocalIterator():
            n_post += 1
            if n_post > post_budget:
                self._raise_too_big(f"> {self._MAX_COMMIT_ROWS} rows")
        superseded = batch_ids | {int(i) for i in replaced_doc_ids}
        with self._open("w") as db:
            if b"meta:docs_schema" not in db:
                db[b"meta:docs_schema"] = json.dumps(
                    new_docs.schema.jsonValue()
                ).encode("utf-8")
            # MERGE "WHEN MATCHED" arm: strip superseded docs from every
            # posting key they appear in (via the reverse map), then drop
            # their doc/docpost keys
            for doc_id in sorted(superseded):
                rk = f"docpost:{doc_id}".encode()
                if rk not in db:
                    continue
                sid = str(doc_id)
                for post_key in json.loads(db[rk]):
                    pk = post_key.encode("utf-8")
                    if pk not in db:
                        continue
                    entries = json.loads(db[pk])
                    entries.pop(sid, None)
                    if entries:
                        db[pk] = json.dumps(entries).encode("utf-8")
                    else:
                        del db[pk]
                del db[rk]
                dk = f"doc:{doc_id}".encode()
                if dk in db:
                    del db[dk]
            # INSERT arm (streamed)
            for r in new_docs.toLocalIterator():
                d = r.asDict(recursive=True)
                db[f"doc:{int(d['doc_id'])}".encode()] = json.dumps(
                    d, ensure_ascii=False
                ).encode("utf-8")
            by_doc: dict[int, list[str]] = {}
            for r in new_postings.toLocalIterator():
                key = f"post:{r['field']}{self._SEP}{r['term']}"
                pk = key.encode("utf-8")
                entries = json.loads(db[pk]) if pk in db else {}
                entries[str(int(r["doc_id"]))] = [
                    int(r["tf"]),
                    list(r["positions"] or []),
                ]
                db[pk] = json.dumps(entries).encode("utf-8")
                by_doc.setdefault(int(r["doc_id"]), []).append(key)
            for doc_id, keys in by_doc.items():
                db[f"docpost:{doc_id}".encode()] = json.dumps(
                    sorted(set(keys))
                ).encode("utf-8")

    def truncate(self) -> None:
        with self._open("w") as db:
            for k in list(db.keys()):
                del db[k]


class IcebergStorage(IndexStorage):
    """The same seam against a real Iceberg catalog via Spark SQL.

    Requires the Iceberg Spark runtime on the classpath and a catalog
    configured (``spark.sql.catalog.<name>``). This sandbox has neither
    (no iceberg jars in /opt/spark/jars — see STATUS.md), so construction
    fails fast with the exact requirement instead of failing obscurely at
    first commit."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str, name: str):
        self.spark = spark
        self.docs_table = f"{catalog}.{namespace}.{name}_docs"
        self.postings_table = f"{catalog}.{namespace}.{name}_postings"
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"no Spark catalog {catalog!r} configured "
                f"(spark.sql.catalog.{catalog}); IcebergStorage needs the "
                "iceberg-spark-runtime jar and a catalog — use "
                "ParquetSnapshotStorage in environments without them"
            )

    def docs(self) -> DataFrame:
        return self.spark.table(self.docs_table)

    def postings(self) -> DataFrame:
        return self.spark.table(self.postings_table)

    @property
    def is_empty(self) -> bool:
        return not self.spark.catalog.tableExists(self.docs_table)

    def commit(self, new_docs, new_postings, replaced_doc_ids):
        if self.is_empty:
            new_docs.writeTo(self.docs_table).create()
            new_postings.writeTo(self.postings_table).create()
            return
        new_docs.createOrReplaceTempView("_batch_docs")
        new_postings.createOrReplaceTempView("_batch_postings")
        # replaced ids are removed FIRST: the engine reuses a replaced
        # doc's id for its replacement, so these ids are usually also in
        # the batch — deleting after the MERGE would destroy the rows the
        # MERGE just upserted (caught in review; order is load-bearing)
        if replaced_doc_ids:
            ids = ", ".join(str(i) for i in sorted(set(replaced_doc_ids)))
            self.spark.sql(
                f"DELETE FROM {self.docs_table} WHERE doc_id IN ({ids})"
            )
            self.spark.sql(
                f"DELETE FROM {self.postings_table} WHERE doc_id IN ({ids})"
            )
        cols = new_docs.columns
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols if c != "doc_id")
        names = ", ".join(cols)
        vals = ", ".join(f"s.{c}" for c in cols)
        self.spark.sql(
            f"MERGE INTO {self.docs_table} t USING _batch_docs s "
            f"ON t.doc_id = s.doc_id "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({names}) VALUES ({vals})"
        )
        # postings have no stable row identity across versions of a doc:
        # replace = delete old rows for the batch's ids, append the new
        self.spark.sql(
            f"DELETE FROM {self.postings_table} t WHERE t.doc_id IN "
            f"(SELECT doc_id FROM _batch_docs)"
        )
        new_postings.writeTo(self.postings_table).append()

    def truncate(self) -> None:
        for t in (self.docs_table, self.postings_table):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
