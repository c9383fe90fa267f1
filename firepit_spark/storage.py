"""SparkStorage: the session/warehouse layer — parity with the reference's
``SqlStorage`` (firepit/sqlstorage.py) re-expressed on Spark.

Layout: one Parquet table per SCO type under ``{path}/tables/``, plus the
edge tables ``__contains`` / ``__reflist`` and the ingest tag table
``__queries``. "Variables" (named views) are stored as rebuildable
definitions in an in-memory symtable: dependent views stay *live* (the
reference's SQL views re-resolve on read, firepit/sqlitestorage.py:192-218)
and self-redefinition snapshots the old definition (the reference's
copy-on-write rename, firepit/sqlitestorage.py:199-211).

Upsert-on-id merge semantics (firepit/sqlstorage.py:367-404):
``first_observed`` MIN, ``last_observed`` MAX, ``number_observed`` SUM,
everything else COALESCE(new, old); ``observed-data`` conflicts keep the
first row (DO NOTHING parity). Implemented as a full-outer merge per
ingest batch — the Delta-MERGE shape, runnable on plain Parquet.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from concurrent import futures
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ByteType,
    FloatType,
    IntegerType,
    ShortType,
    StructType,
)

from firepit_spark import flatten as raftmod
from firepit_spark.deref import DerefPlanner, unresolve
from firepit_spark.exceptions import (
    IncompatibleType,
    InvalidAttr,
    InvalidObject,
    StixPatternError,
    UnknownViewname,
)
from firepit_spark.functions import pin, unpin
from firepit_spark.identifiers import makeid
from firepit_spark.patterns import compile_pattern, pattern_time_range
from firepit_spark import props
from firepit_spark.props import auto_aggs, primary_prop
from firepit_spark.query import Aggregation, BinnedColumn, Query
from firepit_spark.sources import bundles as _bundles
from firepit_spark.timestamp import TIMESTAMP_PROPS
from firepit_spark.validate import validate_name, validate_path

CONTAINS = "__contains"
REFLIST = "__reflist"
QUERIES = "__queries"

# batch-partition naming for LSM-style table layout; partition discovery
# surfaces the batch number as this column at read time
BATCH_COL = "_fp_batch"
BATCH_PREFIX = BATCH_COL + "="

_EXT_SHORTEN = re.compile(r"^extensions\.'(x-)?([\w\d_-]+)'\.")


def shorten_extension_name(key: str) -> str:
    """``extensions.'x-foo'.bar`` -> ``x_bar`` (parity: firepit/splitter.py:19-20)."""
    return _EXT_SHORTEN.sub("x_", key)


@dataclass
class ViewDef:
    sco_type: str | None
    builder: Callable[[], DataFrame]
    appdata: str | None = None
    deps: list = field(default_factory=list)
    # (column, ascending) re-applied at lookup: joins added by auto-deref do
    # not preserve row order, so sorted views carry explicit sort metadata
    # (the reference scrapes ORDER BY from the stored viewdef text instead,
    # firepit/sqlstorage.py:607-621)
    sort: tuple | None = None
    # JSON-serializable recipe for rebuilding this view in a later process
    # (the Parquet-warehouse analog of the reference's stored view DDL,
    # firepit/sqlstorage.py:150-170): {"op": "extract"|"filter"|..., params}.
    # None when the definition is closure-only (DSL queries, self-
    # redefinition snapshots) — those fall back to the materialized parquet.
    spec: dict | None = None


class SparkStorage:
    def __init__(self, path: str, session_id: str = "spark", spark=None):
        from firepit_spark.session import build_spark

        self.spark = spark or build_spark(f"firepit-{session_id}")
        self._owns_spark = spark is None
        self.path = path
        self.tables_dir = os.path.join(path, "tables")
        self.views_dir = os.path.join(path, "views")
        self._symtable_path = os.path.join(path, "symtable.json")
        os.makedirs(self.tables_dir, exist_ok=True)
        os.makedirs(self.views_dir, exist_ok=True)
        self._views: dict[str, ViewDef] = {}
        self._df_cache: dict[str, DataFrame] = {}
        self._deref = DerefPlanner(self)
        # fold batch partitions back into one past this many (see compact())
        self.auto_compact_batches = 32
        # one lock per table: concurrent ingest threads (_ingest_frames
        # runs per-type jobs in parallel, and callers may ingest from
        # several threads) contend only on shared tables, where the
        # next-batch-number probe must be atomic. Lock CREATION itself
        # goes through _write_lock(): a bare defaultdict __getitem__ can
        # hand two racing threads two different Lock objects for the same
        # brand-new key.
        self._write_locks: dict[str, threading.RLock] = {}
        self._write_locks_guard = threading.Lock()
        # memoized observation plans: the __contains ⋈ observed-data edge
        # frame (a lazy plan) and, per view, the triple join behind the
        # observation-count family, pinned (functions.pin) so back-to-back
        # value_counts / number_observed / summary / timestamped calls on
        # one view scan it from memory instead of re-running the join.
        # Invalidation: any table write drops both levels; view
        # (re)definition or removal, delete and close drop the per-view
        # frames, and each dropped frame is unpersisted.
        self._obs_edges_df: DataFrame | None = None
        self._obs_frames: dict[str, DataFrame] = {}
        # materialized-view symtable: views snapshotted to parquet so a new
        # process (e.g. the CLI) sees them; live in-memory defs take priority
        self._meta: dict[str, dict] = {}
        if os.path.exists(self._symtable_path):
            with open(self._symtable_path) as fp:
                self._meta = json.load(fp)
        # cycle guard for replaying persisted view recipes (_rebuild_view)
        self._rebuilding: set[str] = set()

    # ---------------------------------------------------------------- tables

    def _table_path(self, name: str) -> str:
        return os.path.join(self.tables_dir, name)

    def table_name(self, sco_type: str) -> str:
        return sco_type

    def tables(self) -> list:
        return sorted(
            t for t in os.listdir(self.tables_dir) if not t.startswith("__")
        )

    def types(self) -> list:
        """SCO type tables (excludes SDO/metadata tables, parity:
        firepit/sqlstorage.py:700-711)."""
        return sorted(
            t
            for t in os.listdir(self.tables_dir)
            if not t.startswith("__")
            and t not in ("identity", "observed-data", "relationship")
        )

    def views(self) -> list:
        return sorted(set(self._views) | set(self._meta))

    def _save_meta(self):
        with open(self._symtable_path, "w") as fp:
            json.dump(self._meta, fp, indent=1)

    def materialize(self, viewname: str):
        """Snapshot a view to parquet + symtable so later processes can read
        it (the reference's views persist in the DB; this is the Parquet
        analog — a snapshot, by design, since there is no shared catalog)."""
        validate_name(viewname)
        df = self._resolve(viewname)
        target = os.path.join(self.views_dir, viewname)
        tmp = target + ".__tmp__"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target):
            shutil.rmtree(target)
        os.replace(tmp, target)
        live = self._views.get(viewname)
        old = self._meta.get(viewname, {})
        self._meta[viewname] = {
            "type": live.sco_type if live else old.get("type"),
            "appdata": live.appdata if live else old.get("appdata"),
            "sort": list(live.sort) if live and live.sort else old.get("sort"),
            # rebuild recipe: later processes re-register the view LIVE from
            # this (so table updates flow through, as with the reference's
            # DB views); the parquet above is only the closure-only fallback
            "def": live.spec if live else old.get("def"),
        }
        self._save_meta()

    # -- batch layout -----------------------------------------------------
    # Tables are LSM-style: each ingest batch lands as its own partition dir
    # ``<table>/_fp_batch=<n>/`` (an O(batch) write that never reads old
    # data), and the upsert-merge happens lazily at read over the batch
    # number that partition discovery provides for free. ``compact()``
    # (the analog of the reference's deferred ``finish()``,
    # firepit/pgstorage.py:210-221,487-501) folds batches back into one to
    # bound read amplification; it auto-triggers past ``auto_compact_batches``.
    # At 100 TB this is the difference between O(batch) and O(table) ingest.

    def _write_lock(self, otype: str) -> threading.RLock:
        # reentrant: compact() holds it across its own _write_batch call
        with self._write_locks_guard:
            lock = self._write_locks.get(otype)
            if lock is None:
                lock = self._write_locks[otype] = threading.RLock()
            return lock

    def _batch_numbers(self, path: str) -> list:
        if not os.path.isdir(path):
            return []
        return sorted(
            int(d[len(BATCH_PREFIX):])
            for d in os.listdir(path)
            if d.startswith(BATCH_PREFIX)
        )

    def _write_batch(self, otype: str, df: DataFrame, reset: bool = False):
        """Append ``df`` as the next batch partition. With ``reset`` the new
        batch is materialized first, then older batches are dropped — safe
        even when ``df``'s lineage reads this table."""
        with self._write_lock(otype):
            path = self._table_path(otype)
            nums = self._batch_numbers(path)
            n = (nums[-1] + 1) if nums else 0
            tmp = path + f".__tmp__{n}"
            df.write.mode("overwrite").parquet(tmp)
            os.makedirs(path, exist_ok=True)
            os.replace(tmp, os.path.join(path, f"{BATCH_PREFIX}{n}"))
            if reset:
                for d in os.listdir(path):
                    if d.startswith(BATCH_PREFIX) and d != f"{BATCH_PREFIX}{n}":
                        shutil.rmtree(os.path.join(path, d))
            self._df_cache.pop(otype, None)
            over = len(self._batch_numbers(path)) > self.auto_compact_batches
        # write-invalidation for the memoized observation frames: a view
        # may read any table, so per-view frames drop on every write; the
        # edge frame only reads __contains / observed-data
        self._invalidate_obs_caches(
            edges=otype in (CONTAINS, "observed-data")
        )
        if not reset and over:
            self.compact(otype)

    def _merge_batches(self, name: str, raw: DataFrame, n_batches: int) -> DataFrame:
        """Fold batch partitions into the logical table state."""
        if BATCH_COL not in raw.columns:
            return raw
        if n_batches <= 1:
            return raw.drop(BATCH_COL)
        if name == QUERIES:
            return raw.drop(BATCH_COL).distinct()
        if name in (CONTAINS, REFLIST):
            keys = (
                ["source_ref", "target_ref"]
                if name == CONTAINS
                else ["ref_name", "source_ref", "target_ref"]
            )
            others = [c for c in raw.columns if c not in keys and c != BATCH_COL]
            if not others:
                return raw.drop(BATCH_COL).distinct()
            return raw.groupBy(*keys).agg(
                *[F.max(F.col(f"`{c}`")).alias(c) for c in others]
            )
        if "id" not in raw.columns:
            return raw.drop(BATCH_COL)
        # upsert semantics across batches (parity: firepit/sqlstorage.py:367-380):
        # first_observed=MIN, last_observed=MAX, number_observed=SUM, other
        # columns latest-non-null; observed-data keeps the earliest write
        # (ON CONFLICT DO NOTHING parity).
        old_wins = name == "observed-data"
        batch = F.col(BATCH_COL)
        aggs = []
        for c in raw.columns:
            if c in ("id", BATCH_COL):
                continue
            col = F.col(f"`{c}`")
            ordk = F.when(col.isNotNull(), batch)
            if old_wins:
                expr = F.min_by(col, ordk)
            elif c == "first_observed":
                expr = F.min(col)
            elif c == "last_observed":
                expr = F.max(col)
            elif c == "number_observed":
                expr = F.sum(col)
            else:
                expr = F.max_by(col, ordk)
            aggs.append(expr.alias(c))
        if not aggs:
            return raw.drop(BATCH_COL).distinct()
        return raw.groupBy("id").agg(*aggs)

    def compact(self, otype: str | None = None):
        """Materialize merged table state into a single batch partition
        (the reference's ``finish()`` moment: firepit/sqlstorage.py:824-827).
        Call with no argument to compact every multi-batch table."""
        names = [otype] if otype else list(
            t for t in os.listdir(self.tables_dir)
            if os.path.isdir(self._table_path(t))
        )
        for name in names:
            # held from the batch listing through the reset write: an
            # append landing in between would be deleted by the reset
            with self._write_lock(name):
                path = self._table_path(name)
                if len(self._batch_numbers(path)) <= 1:
                    continue
                self._df_cache.pop(name, None)
                merged = self.table_df(name)
                # time-cluster observation-bearing tables while we're
                # rewriting anyway: a range-sort on first_observed gives
                # every parquet row group tight min/max stats, so the
                # START/STOP and timestamped() time filters skip data
                # instead of scanning it (the Spark analog of the
                # reference's post-load index build)
                if "first_observed" in merged.columns:
                    merged = merged.repartitionByRange(
                        F.col("first_observed")
                    ).sortWithinPartitions("first_observed")
                self._write_batch(name, merged, reset=True)

    def finish(self, index: bool = True):
        """Post-load hook (parity: firepit/sqlstorage.py:824-827; the
        reference's pgstorage uses it to build indexes). The Spark analog
        of indexing is batch compaction: fold multi-batch tables into one
        partition so later reads skip the merge-batches rollup."""
        if index:
            self.compact()

    def close(self):
        """Release engine resources (parity: firepit/sqlstorage.py:160-165).
        Drops DataFrame caches; stops the SparkSession only when this
        storage created it (a caller-supplied session is shared state).
        The on-disk warehouse is untouched — reopen with SparkStorage(path).
        Safe to call more than once."""
        self._invalidate_obs_caches()
        self._df_cache.clear()
        if self._owns_spark:
            self.spark.stop()

    def delete(self):
        """Delete ALL data in this store (parity: firepit/sqlstorage.py:731,
        firepit/sqlitestorage.py:323-329 removes the DB file): removes the
        warehouse directory and forgets all in-memory views/metadata. The
        SparkSession survives — unlike the reference's connection it may be
        shared; call :meth:`close` as well to tear that down."""
        self._invalidate_obs_caches()
        self._df_cache.clear()
        self._views.clear()
        self._meta.clear()
        shutil.rmtree(self.path, ignore_errors=True)
        # leave an empty-but-valid warehouse so catalog calls keep working
        # (the reference's deleted sqlite store errors on next use instead)
        os.makedirs(self.tables_dir, exist_ok=True)
        os.makedirs(self.views_dir, exist_ok=True)

    def table_df(self, name: str) -> DataFrame:
        if name not in self._df_cache:
            p = self._table_path(name)
            if not os.path.exists(p):
                raise UnknownViewname(name)
            nums = self._batch_numbers(p)
            reader = self.spark.read.option("mergeSchema", "true")
            if nums:
                # read the batch dirs, not the root: Spark's hidden-path
                # filter skips names starting with "_" unless they hold "=",
                # so a root read of __queries/__contains/__reflist logs a
                # false "All paths were ignored" warning
                raw = reader.option("basePath", p).parquet(
                    *[os.path.join(p, f"{BATCH_PREFIX}{n}") for n in nums]
                )
            else:
                raw = reader.parquet(p)
            self._df_cache[name] = self._merge_batches(name, raw, len(nums))
        return self._df_cache[name]

    def _resolve(self, name: str) -> DataFrame:
        if name in self._views:
            return self._views[name].builder()
        spec = self._meta.get(name, {}).get("def")
        if spec and name not in self._rebuilding:
            self._rebuilding.add(name)
            try:
                self._rebuild_view(name, spec)
                if name in self._views:
                    return self._views[name].builder()
            except Exception:
                # stale/unusable recipe: fall back to the snapshot
                self._views.pop(name, None)
            finally:
                self._rebuilding.discard(name)
        mat = os.path.join(self.views_dir, name)
        if name in self._meta and os.path.exists(mat):
            return self.spark.read.parquet(mat)
        return self.table_df(name)

    def _rebuild_view(self, name: str, spec: dict):
        """Re-register a persisted view definition as a live view (the
        reference reloads view DDL from the DB; this replays the stored op
        recipe so cross-process views see current table data)."""
        op = spec.get("op")
        if op == "extract":
            self.extract(name, spec["sco_type"], spec["query_id"], spec["pattern"],
                         honor_qualifiers=spec.get("honor_qualifiers", False))
        elif op == "filter":
            self.filter(name, spec["sco_type"], spec["input_view"], spec["pattern"],
                        honor_qualifiers=spec.get("honor_qualifiers", False))
        elif op == "merge":
            self.merge(name, list(spec["views"]))
        elif op == "join":
            self.join(name, spec["l_var"], spec["l_val"], spec["r_var"], spec["r_val"])
        elif op == "group":
            self.group(name, spec["source"], list(spec["by"]))
        elif op == "assign":
            self.assign(name, spec["on"], op=spec.get("assign_op"),
                        by=spec.get("by"), ascending=spec.get("ascending", True),
                        limit=spec.get("limit"))
        else:
            raise ValueError(f"unknown view spec op: {op}")

    def get_df(self, name: str) -> DataFrame:
        """Public resolver: view or table -> DataFrame."""
        return self._resolve(name)

    def columns(self, name: str) -> list:
        return self._resolve(name).columns

    def schema(self, name: str) -> list:
        df = self._resolve(name)
        return [
            {"name": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields
        ]

    def table_type(self, name: str) -> str | None:
        """SCO type behind a view/table (parity: firepit/sqlstorage.py:693-698)."""
        if name in self._views:
            return self._views[name].sco_type
        if name in self._meta:
            return self._meta[name].get("type")
        return name if os.path.exists(self._table_path(name)) else None

    def count(self, name: str) -> int:
        return self._resolve(name).count()

    # ---------------------------------------------------------------- ingest

    def cache(self, query_id: str, bundles, batchsize: int = 2000, **kwargs):
        """Ingest STIX bundle(s) tagged with ``query_id``
        (parity: firepit/sqlstorage.py:410-444)."""
        if not isinstance(bundles, list):
            bundles = [bundles]
        records = [
            rec
            for bundle in bundles
            for obj in raftmod.get_objects(bundle)
            for rec in raftmod.flatten(obj)
        ]
        _bundles.ingest_records(self, records, str(query_id))

    def load(
        self,
        viewname: str,
        objects: list,
        sco_type: str | None = None,
        query_id: str | None = None,
        preserve_ids: bool = True,
    ) -> str:
        """Import plain dicts/strings as a typed view
        (parity: firepit/sqlstorage.py:471-502)."""
        validate_name(viewname)
        if not query_id:
            query_id = (
                objects[0].get("query_id")
                if isinstance(objects[0], dict) and "query_id" in objects[0]
                else str(uuid.uuid4())
            )
        prepared = []
        for obj in objects:
            if isinstance(obj, str):
                if not sco_type:
                    raise InvalidObject("data is a string but no sco_type given")
                obj = {"type": sco_type, primary_prop(sco_type): obj}
            elif not isinstance(obj, dict):
                raise InvalidObject("Unknown data format")
            if not sco_type:
                if "type" not in obj:
                    raise InvalidObject("missing `type`")
                sco_type = obj["type"]
            obj.setdefault("type", sco_type)
            if "id" not in obj or not preserve_ids:
                obj["id"] = makeid(obj)
            prepared.append(raftmod.normalize_obj(obj))
        _bundles.ingest_records(self, prepared, str(query_id))
        self.extract(viewname, sco_type, query_id, "")
        return sco_type

    def upsert_many(self, cursor, tablename, objs, query_id, schema=None):
        """Insert-or-merge flattened objects into a type table (reference
        API shim: firepit/sqlstorage.py:406-408). The reference threads a
        DB cursor and a column schema through per-row INSERT ... ON
        CONFLICT statements; here the batch lands as one LSM batch
        partition and the conflict semantics apply lazily at read
        (``_merge_batches``). ``cursor`` is accepted for call-site
        compatibility and ignored — pass None. Rows may be dicts, or the
        reference's value-list shape (aligned with ``schema``'s non-type
        keys, the way firepit/sqlstorage.py:523 calls it) — then
        ``schema`` is required. The query tag goes to the ``__queries``
        edge table only, never into the type table's columns (reference
        tables carry no query_id column either).
        """
        del cursor  # Spark path needs no DB cursor
        colnames = (
            [k for k in schema if k != "type"] if isinstance(schema, dict) else None
        )
        prepared = []
        for obj in objs:
            if isinstance(obj, (list, tuple)):
                if colnames is None:
                    raise ValueError(
                        "value-list rows require the reference's schema dict"
                    )
                obj = dict(zip(colnames, obj))
            else:
                obj = dict(obj)
            obj.setdefault("type", tablename)
            prepared.append(obj)
        _bundles.ingest_records(
            self, prepared, str(query_id) if query_id is not None else None
        )

    def upsert(self, cursor, tablename, obj, query_id, schema=None):
        """Single-object :meth:`upsert_many` (reference shim,
        firepit/sqlstorage.py:382-404). Batch callers should pass the
        whole list to ``upsert_many`` — one Spark job per call."""
        self.upsert_many(cursor, tablename, [obj], query_id, schema)

    def path_joins(self, viewname, sco_type, column):
        """Implicit joins needed to resolve a reference path column
        (reference API: firepit/sqlstorage.py:334-338). Returns the
        parsed link tuples (('node', type, prop) / ('rel', from, ref,
        to)) — the plan the reference renders as aux-view SQL and this
        engine executes via ``deref.deref_path``. Empty list when the
        column needs no joins or the ref cannot be typed."""
        if not sco_type:
            sco_type = self.table_type(viewname)
        links = props.parse_prop(sco_type, column)
        if len(links) == 1 and links[0][0] == "node":
            return []  # plain column, no join needed
        return links

    def reassign(self, viewname: str, objects: list):
        """Write back (possibly enriched) objects behind a view
        (parity: firepit/sqlstorage.py:504-539)."""
        validate_name(viewname)
        if not objects:
            return
        if "id" in objects[0]:
            split = [o for o in unresolve(objects)]
            for obj in split:
                if "type" not in obj:
                    raise InvalidObject("missing `type`")
            # the view definition itself is unchanged; the writes drop the
            # table caches, so dependents see the merged rows
            _bundles.ingest_records(self, split, None)
        else:
            # aggregate-shaped data: snapshot as a standalone table
            _bundles.ingest_records(
                self, [{**o, "type": viewname} for o in objects], None
            )
            self._views.pop(viewname, None)
            if viewname in self._meta:
                # drop any persisted recipe/snapshot: the table IS the data now
                del self._meta[viewname]
                self._save_meta()
                mat = os.path.join(self.views_dir, viewname)
                if os.path.exists(mat):
                    shutil.rmtree(mat)

    def enrich(self, otype: str, df: DataFrame):
        """Distributed enrichment write-back: ``df`` carries ``id`` plus new
        or updated columns for an existing SCO type; the LSM latest-non-null
        merge (see _merge_batches) applies them without touching other
        columns or rows. The DataFrame-shaped, executor-side counterpart of
        ``reassign`` — at scale the enrichment source is itself a join
        output, never a driver-side object list."""
        if "id" not in df.columns:
            raise InvalidObject("enrichment frame needs an `id` column")
        self.ingest_dataframe(otype, df)

    def ingest_dataframe(self, otype: str, df: DataFrame, query_id: str | None = None):
        """Merge an already-flattened per-type DataFrame into the warehouse,
        tagged with ``query_id`` when given: the one-type case of
        :meth:`_ingest_frames`."""
        self._ingest_frames({otype: df}, query_id)

    def _ingest_frames(
        self, frames: dict, query_id: str | None, skip_empty: bool = False
    ) -> list:
        """Merge ``{otype: frame}`` as one ingest call; returns the types
        written (with ``skip_empty``, empty frames are probed and skipped).

        Each type lands in its own table, so the types merge concurrently
        from one pool: Spark schedules concurrent jobs FIFO, one type's
        write-job tail backfills with the next type's work, and the driver
        threads spend their time blocked on py4j reads, not the GIL. Each
        task carries the caller's job group and local properties. After
        every type table has landed, one ``__queries`` batch tags the ids of
        every id-bearing frame written."""

        def merge(otype: str, df: DataFrame):
            if skip_empty and df.isEmpty():
                return None
            return otype, self._merge_frame(otype, df)

        with futures.ThreadPoolExecutor(max_workers=8) as pool:
            futs = [
                # one wrap per task: each clones the caller's properties
                pool.submit(inheritable_thread_target(self.spark)(merge), otype, df)
                for otype, df in frames.items()
            ]
            done = [r for r in (f.result() for f in futs) if r]
        tagged = [
            df.select(F.col("id").alias("sco_id")) for _, df in done if df is not None
        ]
        if query_id and tagged:
            tags = reduce(DataFrame.unionByName, tagged).withColumn(
                "query_id", F.lit(str(query_id))
            )
            self._merge_edges(QUERIES, tags, ["sco_id", "query_id"])
        return sorted(otype for otype, _ in done)

    def _merge_frame(self, otype: str, df: DataFrame) -> DataFrame | None:
        """Normalize one type's frame and merge it; returns the normalized
        frame when its rows are SCOs that a query tag can name.

        Normalization: known timestamp props become TimestampType, struct
        columns (un-recursed custom SCO dicts) become JSON text, narrow
        numerics widen to long/double (parquet schema merge across batches
        refuses INT-vs-BIGINT, so an engine-built frame, e.g. a log
        conversion using int literals, must land with the wide types), and
        extension columns take their short names."""
        df = df.drop("type")
        for f in df.schema.fields:
            name = f.name
            base = name.rsplit(".", 1)[-1].rsplit(":", 1)[-1].strip("'")
            col = F.col(f"`{name}`")
            if base in TIMESTAMP_PROPS and f.dataType.simpleString() == "string":
                df = df.withColumn(name, F.to_timestamp(col))
            elif isinstance(f.dataType, StructType):
                df = df.withColumn(name, F.to_json(col))
            elif isinstance(f.dataType, (IntegerType, ShortType, ByteType)):
                df = df.withColumn(name, col.cast("long"))
            elif isinstance(f.dataType, FloatType):
                df = df.withColumn(name, col.cast("double"))
        df = df.toDF(*[shorten_extension_name(c) for c in df.columns])
        if otype == CONTAINS:
            self._merge_edges(otype, df, ["source_ref", "target_ref"])
        elif otype == REFLIST:
            self._merge_edges(otype, df, ["ref_name", "source_ref", "target_ref"])
        elif "id" in df.columns:
            self._merge_upsert(otype, self._merge_batch_dups(otype, df))
            return df
        else:
            self._append(otype, df)
        return None

    def _merge_batch_dups(self, otype: str, df: DataFrame) -> DataFrame:
        """Collapse duplicate ids within one batch using upsert semantics
        (the groupBy-merge shape of firepit/aio/ingest.py:674-677).

        A monotonic within-batch ordinal makes the merge deterministic
        last-non-null-wins — matching the reference's sequential upsert
        (last write wins) and this store's cross-batch ``max_by(batch)``
        merge — instead of shuffle-order-dependent ``first()``.
        Observed-data keeps the earliest write (ON CONFLICT DO NOTHING
        parity), mirroring ``_merge_batches``.
        """
        ord_col = "__fp_ord"
        df = df.withColumn(ord_col, F.monotonically_increasing_id())
        old_wins = otype == "observed-data"
        aggs = []
        for c in df.columns:
            if c in ("id", ord_col):
                continue
            col = F.col(f"`{c}`")
            ordk = F.when(col.isNotNull(), F.col(ord_col))
            if old_wins:
                aggs.append(F.min_by(col, ordk).alias(c))
            elif c == "first_observed":
                aggs.append(F.min(col).alias(c))
            elif c == "last_observed":
                aggs.append(F.max(col).alias(c))
            elif c == "number_observed":
                aggs.append(F.sum(col).alias(c))
            else:
                aggs.append(F.max_by(col, ordk).alias(c))
        if not aggs:
            return df.drop(ord_col).distinct()
        return df.groupBy("id").agg(*aggs)

    def _merge_upsert(self, otype: str, new_df: DataFrame):
        """O(batch) upsert: the batch (already id-deduped) lands as a new
        batch partition; cross-batch merge semantics apply lazily at read
        (see _merge_batches)."""
        self._write_batch(otype, new_df)

    def _merge_edges(self, otype: str, new_df: DataFrame, keys: list):
        """Edge rows: dedupe within the batch, merge across batches at read."""
        others = [c for c in new_df.columns if c not in keys]
        if others:
            new_df = new_df.groupBy(*keys).agg(
                *[F.max(F.col(f"`{c}`")).alias(c) for c in others]
            )
        else:
            new_df = new_df.distinct()
        self._write_batch(otype, new_df)

    def _append(self, otype: str, new_df: DataFrame):
        self._write_batch(otype, new_df)

    def overwrite_table(self, otype: str, df: DataFrame):
        """Replace a table's contents (new batch materialized first, old
        batches dropped after — safe when df's lineage reads this table)."""
        self._write_batch(otype, df, reset=True)

    def export_json(self, name: str, path: str, mode: str = "overwrite"):
        """Write a table/view out as JSON lines (parity with the reference's
        per-type JsonWriter sink, firepit/splitter.py:23-69 — distributed
        write, one file per partition)."""
        validate_name(name)
        self._resolve(name).write.mode(mode).json(path)

    # ----------------------------------------------------------------- views

    def _register(self, name, sco_type, builder, deps, sort=None, spec=None):
        validate_name(name)
        # view (re)definition: memoized obs frames may read this view (or a
        # view chained through it) — drop them all; the shared edge frame
        # reads tables only and stays
        self._invalidate_obs_caches(edges=False)
        if name in self._views and name in deps:
            # self-redefinition: snapshot the old definition (copy-on-write
            # parity with the reference's table-rename trick); the snapshot
            # closure is process-local, so no rebuild spec
            frozen = self._views[name]
            old_builder = frozen.builder

            def resolve_with_snapshot(n, _old=old_builder, _name=name):
                return _old() if n == _name else self._resolve(n)

            self._views[name] = ViewDef(
                sco_type, lambda: builder(resolve_with_snapshot), appdata=frozen.appdata, deps=deps, sort=sort
            )
        else:
            appdata = self._views[name].appdata if name in self._views else None
            self._views[name] = ViewDef(
                sco_type, lambda: builder(self._resolve), appdata=appdata, deps=deps, sort=sort, spec=spec
            )

    def assign_query(self, viewname: str, query: Query, sco_type: str | None = None):
        """Store a DSL query as a named view (parity:
        firepit/sqlstorage.py:829-852). Grouped queries with no explicit
        aggs get auto-aggregation."""
        if query.groupby and not query.aggs:
            base_name = query.table.name
            base_df = self._resolve(base_name)
            stype = sco_type or self.table_type(base_name) or base_name
            group_cols = [
                c if isinstance(c, str) else getattr(c, "alias", None)
                for c in query.groupby.cols
            ]
            aggs = auto_aggs(stype, base_df.schema, [c for c in group_cols if c])
            if aggs:
                query.aggs = Aggregation([])
                query.aggs.aggs = []
                query.aggs.to_spark = lambda: aggs  # pre-built Column aggs
        if not sco_type:
            sco_type = self.table_type(query.table.name)
        deps = [query.table.name] + [j.name for j in query.joins]
        self._register(viewname, sco_type, lambda resolve: query.resolve(resolve), deps)

    def extract(
        self,
        viewname: str,
        sco_type: str,
        query_id,
        pattern: str,
        honor_qualifiers: bool = False,
    ):
        """Pattern-filtered view over one ingest batch
        (parity: firepit/sqlstorage.py:568-577 + _extract 340-365).

        ``honor_qualifiers`` upgrades on the reference (which parses then
        ignores START/STOP, firepit/stix20.py:154-156): when set, matches are
        restricted to SCOs whose containing observation overlaps the
        qualifier's [start, stop] interval.
        """
        validate_name(viewname)
        try:
            filters = compile_pattern(pattern, sco_type, self) if pattern else []
            time_range = (
                pattern_time_range(pattern) if honor_qualifiers and pattern else None
            )
        except StixPatternError:
            raise
        except Exception as e:
            raise StixPatternError(f"{pattern}: {e}") from e
        qid = str(query_id) if query_id else None

        def build(resolve):
            df = resolve(self.table_name(sco_type))
            if qid:
                tags = resolve(QUERIES).filter(F.col("query_id") == qid)
                df = df.join(
                    tags.select(F.col("sco_id")),
                    df["id"] == F.col("sco_id"),
                    "left_semi",
                )
            if time_range:
                df = self._obs_time_filter(df, time_range, resolve)
            q = Query(sco_type)
            for flt in filters:
                q.append(flt)
            return q._apply_filters(df.alias(sco_type), q.where, resolve)

        self._register(
            viewname, sco_type, build, deps=[sco_type],
            spec={"op": "extract", "sco_type": sco_type, "query_id": qid,
                  "pattern": pattern, "honor_qualifiers": honor_qualifiers},
        )

    def filter(
        self,
        viewname: str,
        sco_type: str,
        input_view: str,
        pattern: str,
        honor_qualifiers: bool = False,
    ):
        """Re-filter an existing view with a pattern
        (parity: firepit/sqlstorage.py:579-600; ``honor_qualifiers`` as in
        :meth:`extract`)."""
        validate_name(viewname)
        validate_name(input_view)
        filters = compile_pattern(pattern, sco_type, self) if pattern else []
        time_range = (
            pattern_time_range(pattern) if honor_qualifiers and pattern else None
        )

        def build(resolve):
            df = resolve(input_view)
            if time_range:
                df = self._obs_time_filter(df, time_range, resolve)
            q = Query(sco_type)
            for flt in filters:
                q.append(flt)
            return q._apply_filters(df.alias(sco_type), q.where, resolve)

        self._register(
            viewname, sco_type, build, deps=[input_view],
            spec={"op": "filter", "sco_type": sco_type, "input_view": input_view,
                  "pattern": pattern, "honor_qualifiers": honor_qualifiers},
        )

    def _obs_time_filter(self, df: DataFrame, time_range, resolve) -> DataFrame:
        """Keep rows whose containing observation overlaps [start, stop]."""
        start, stop = time_range
        obs = resolve("observed-data").filter(
            (F.col("last_observed") >= F.to_timestamp(F.lit(start)))
            & (F.col("first_observed") <= F.to_timestamp(F.lit(stop)))
        )
        # a semi join, not an inner one: Catalyst sizes an inner join as the
        # product of its inputs and plans a sort-merge join (which AQE only
        # demotes after two shuffle jobs), while a semi join is sized as its
        # left side and plans as a broadcast. Rows are the same, since the
        # consumer is itself a semi join on id.
        in_range = (
            resolve(CONTAINS)
            .join(obs.select(F.col("id").alias("source_ref")), "source_ref",
                  "left_semi")
            .select(F.col("target_ref").alias("id"))
        )
        return df.join(in_range, "id", "left_semi")

    def merge(self, viewname: str, input_views: list):
        """UNION same-typed views (parity: firepit/sqlstorage.py:777-793)."""
        validate_name(viewname)
        types = {self.table_type(v) for v in input_views}
        if len(types) > 1:
            raise IncompatibleType(f"cannot merge types {types}")

        def build(resolve):
            dfs = [resolve(v) for v in input_views]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out.distinct()

        self._register(
            viewname, types.pop(), build, deps=list(input_views),
            spec={"op": "merge", "views": list(input_views)},
        )

    def join(self, viewname: str, l_var: str, l_val: str, r_var: str, r_val: str):
        """View-level inner equi-join; shared columns merged with IFNULL
        (parity: firepit/sqlstorage.py:541-566)."""
        validate_name(viewname)

        def build(resolve):
            l, r = resolve(l_var).alias("l"), resolve(r_var).alias("r")
            shared = set(l.columns) & set(r.columns)
            exprs = []
            for c in l.columns:
                if c in shared:
                    exprs.append(
                        F.coalesce(F.col(f"l.`{c}`"), F.col(f"r.`{c}`")).alias(c)
                    )
                else:
                    exprs.append(F.col(f"l.`{c}`"))
            exprs.extend(F.col(f"r.`{c}`") for c in r.columns if c not in shared)
            return l.join(
                r, F.col(f"l.`{l_val}`") == F.col(f"r.`{r_val}`"), "inner"
            ).select(*exprs)

        self._register(
            viewname, self.table_type(l_var), build, deps=[l_var, r_var],
            spec={"op": "join", "l_var": l_var, "l_val": l_val,
                  "r_var": r_var, "r_val": r_val},
        )

    def group(self, newname: str, viewname: str, by, aggs=None, bins=None):
        """Group a view by STIX paths with auto or explicit aggs
        (parity: firepit/sqlstorage.py:1028-1077)."""
        validate_name(newname)
        if isinstance(by, str):
            by = [by]
        group_cols = []
        deref_paths = []
        for item in by:
            if isinstance(item, BinnedColumn):
                group_cols.append(item)
                continue
            prop = item.rpartition(":")[2] if ":" in item else item
            group_cols.append(prop)
            if prop not in self.columns(viewname):
                deref_paths.append(prop)
        sco_type = self.table_type(viewname)

        def build(resolve):
            df = resolve(viewname)
            # the raw view schema BEFORE any path join: reference
            # auto-agg runs over schema(sco_type) (sqlstorage.py:
            # 1049-1056), i.e. NUNIQUE("src_ref") counts raw ref ids —
            # not the dereferenced values — so path joins must PRESERVE
            # raw columns (deref_path does; the full auto-deref
            # replaces *_ref with joined .value columns)
            raw_schema = df.schema
            for prop in deref_paths:
                df, col = self._deref.deref_path(df, sco_type, prop)
                if col != prop:
                    df = df.withColumn(prop, F.col(f"`{col}`"))
            plain = [c for c in group_cols if isinstance(c, str)]
            exprs = [
                c.to_spark() if isinstance(c, BinnedColumn) else F.col(f"`{c}`")
                for c in group_cols
            ]
            if aggs:
                # explicit aggs may reference a deref path too — the
                # reference path_joins those attrs exactly like the
                # group-by legs (sqlstorage.py:1057-1066)
                resolved_aggs = []
                for func, attr, alias in aggs:
                    if (isinstance(attr, str) and attr != "*"
                            and attr not in df.columns):
                        df, attr = self._deref.deref_path(
                            df, sco_type, attr
                        )
                    resolved_aggs.append((func, attr, alias))
                agg_exprs = Aggregation(resolved_aggs).to_spark()
            else:
                agg_exprs = auto_aggs(sco_type, raw_schema, plain)
                if not agg_exprs:
                    agg_exprs = [F.count(F.lit(1)).alias("count")]
            names = [
                c.alias if isinstance(c, BinnedColumn) else c for c in group_cols
            ]
            return (
                df.groupBy(*exprs)
                .agg(*agg_exprs)
                .orderBy(*[F.col(f"`{n}`") for n in names])
            )

        # recipe only for the plain-path form (BinnedColumn/explicit aggs are
        # closure-only; those views fall back to their parquet snapshot)
        plain_spec = None
        if aggs is None and bins is None and all(isinstance(i, str) for i in by):
            plain_spec = {"op": "group", "source": viewname, "by": list(by)}
        self._register(newname, sco_type, build, deps=[viewname], spec=plain_spec)

    def assign(self, viewname, on, op=None, by=None, ascending=True, limit=None):
        """Legacy sort/group op (parity: firepit/sqlstorage.py:446-469)."""
        validate_name(viewname)
        validate_name(on)
        sco_type = self.table_type(on)
        if by and ":" in by:
            validate_path(by)
            by = by.rpartition(":")[2]

        def build(resolve):
            df = resolve(on)
            raw_cols = df.columns
            raw_schema = df.schema
            key = by
            if by and by not in df.columns:
                # deref_path, not the full auto-deref: the reference's
                # path_joins keeps every raw column alongside the joined
                # path (sqlstorage.py:446-469), so sort projects the raw
                # view and group auto-aggs the raw schema
                df, key = self._deref.deref_path(df, sco_type, by)
            if op == "sort":
                col = F.col(f"`{key}`")
                df = df.orderBy(col.asc() if ascending else col.desc())
                if limit:
                    df = df.limit(limit)
                # reference appends Projection(columns of `on`)
                df = df.select(*[F.col(f"`{c}`") for c in raw_cols])
            elif op == "group":
                df = df.groupBy(F.col(f"`{key}`").alias(by)).agg(
                    *(auto_aggs(sco_type, raw_schema, [by])
                      or [F.count(F.lit(1)).alias("count")])
                )
            return df

        sort = (by, ascending) if op == "sort" and by else None
        self._register(
            viewname, sco_type, build, deps=[on], sort=sort,
            spec={"op": "assign", "on": on, "assign_op": op, "by": by,
                  "ascending": ascending, "limit": limit},
        )

    # -------------------------------------------------------------- retrieval

    def _lookup_df(self, viewname: str, cols=None, limit=None, offset=None) -> DataFrame:
        """Shared plan-builder for lookup()/lookup_iter(): auto-deref, stored
        sort order, offset/limit — everything except driver materialization."""
        validate_name(viewname)
        df = self._resolve(viewname)
        sco_type = self.table_type(viewname)
        if sco_type and "id" in df.columns:
            df = self._deref.deref(df, sco_type, paths=cols)
        elif cols:
            df = df.select(*[F.col(f"`{c}`") for c in cols if c in df.columns])
        vd = self._views.get(viewname)
        sort = vd.sort if vd else None
        if sort is None and viewname in self._meta:
            meta_sort = self._meta[viewname].get("sort")
            sort = tuple(meta_sort) if meta_sort else None
        if sort and sort[0] in df.columns:
            sc = F.col(f"`{sort[0]}`")
            df = df.orderBy(sc.asc() if sort[1] else sc.desc())
        if offset:
            df = df.offset(offset)
        if limit:
            df = df.limit(limit)
        return df

    def lookup(self, viewname: str, cols=None, limit=None, offset=None, col_dict=None):
        """Fetch a view with auto-deref + pagination, rows as dicts
        (parity: firepit/sqlstorage.py:602-665).

        The rows come back in one ``collect()``: the returned list holds
        every row on the driver anyway, so streaming them partition by
        partition would only add a job and a socket round per partition.
        Callers that can stream an unbounded view should use
        :meth:`lookup_iter`.

        ``col_dict`` is accepted for API compatibility only: in the
        reference it is a pre-fetched column-metadata cache that avoids DB
        introspection round-trips (firepit/sqlstorage.py:641-646); Spark
        DataFrame schemas are driver-local, so there is nothing to cache.
        """
        df = self._lookup_df(viewname, cols=cols, limit=limit, offset=offset)
        sco_type = self.table_type(viewname)
        rows = [r.asDict() for r in df.collect()]
        # reference adds the type column only for '*' or when asked
        # (sqlstorage.py:661-664) — explicit cols stay exactly as given
        if sco_type and (not cols or "type" in cols):
            for r in rows:
                r.setdefault("type", sco_type)
        return rows

    def lookup_iter(self, viewname: str, cols=None, offset=None):
        """Streaming twin of :meth:`lookup`: a generator of row dicts that
        never materializes the view on the driver (one Spark partition in
        flight at a time).  This is the 100-TB-safe retrieval path — additive
        over the reference, whose ``lookup`` is cursor-backed and so never
        had the materialization hazard (firepit/sqlstorage.py:602-665)."""
        df = self._lookup_df(viewname, cols=cols, offset=offset)
        sco_type = self.table_type(viewname)
        add_type = sco_type and (not cols or "type" in cols)
        for r in df.toLocalIterator(prefetchPartitions=True):
            d = r.asDict()
            if add_type:
                d.setdefault("type", sco_type)
            yield d

    def values_df(self, path: str, viewname: str) -> DataFrame:
        """DataFrame core of ``values``: one column named after the resolved
        path, including any ``_ref`` hops dereferenced via broadcast joins
        (the Spark-shaped form of get_path_joins,
        firepit/sqlstorage.py:107-140)."""
        validate_path(path)
        validate_name(viewname)
        df, col = self._path_column(viewname, path)
        return df.select(F.col(f"`{col}`"))

    def values(self, path: str, viewname: str) -> list:
        """Single-column extraction by STIX path
        (parity: firepit/sqlstorage.py:667-683).  One ``collect()``: the
        returned list holds every value on the driver anyway; stream
        :meth:`values_df` instead when the column may not fit there."""
        return [r[0] for r in self.values_df(path, viewname).collect()]

    def run_query(self, query: Query) -> list:
        return [r.asDict() for r in query.resolve(self._resolve).collect()]

    # ----------------------------------------------- observation-count family

    # reserved prefix for observed-data columns inside the memoized
    # per-view triple-join frame (a select flattens the v/obs qualifiers,
    # and a view can legitimately carry columns named like observed-data's)
    _OBS_PREFIX = "__fp_obs_"

    def _invalidate_obs_caches(self, edges: bool = True):
        """Drop the memoized observation plans and unpersist the per-view
        frames. Called on every table write (``edges=False`` keeps the
        __contains ⋈ observed-data frame when neither of those tables
        changed), on view (re)definition/removal, and on delete/close.
        The memo dict is swapped out before its frames are unpersisted:
        ingest-pool threads call this concurrently, and each dropped dict
        must be walked by one caller only."""
        dropped, self._obs_frames = self._obs_frames, {}
        if edges:
            self._obs_edges_df = None
        for df in dropped.values():
            unpin(df)

    def _obs_edges(self) -> DataFrame:
        """Memoized ``__contains ⋈ observed-data`` frame — the shared,
        view-independent 2/3 of the J6 triple join, computed once per
        warehouse state instead of once per storage-op call (r14-opt,
        guide §1.2/§2.4). Columns: ``__fp_target`` (the contained SCO id)
        plus every observed-data column under its own name."""
        if self._obs_edges_df is None:
            contains = self.table_df(CONTAINS)
            obs = self.table_df("observed-data")
            self._obs_edges_df = (
                contains.alias("c")
                .join(obs.alias("o"), F.col("c.source_ref") == F.col("o.id"),
                      "inner")
                .select(
                    F.col("c.target_ref").alias("__fp_target"),
                    *[F.col(f"o.`{x}`").alias(x) for x in obs.columns],
                )
            )
        return self._obs_edges_df

    def _obs_join(self, df: DataFrame) -> DataFrame:
        """view ⋈ __contains ⋈ observed-data (the J6 triple join used by
        every observation-counting op, e.g. firepit/sqlstorage.py:896-900).
        The __contains ⋈ observed-data leg is the memoized
        :meth:`_obs_edges` plan, shared by every op of a session. Output
        qualifiers: ``v`` = the view, ``obs`` = the edge frame (every
        observed-data column plus ``__fp_target``)."""
        edges = self._obs_edges()
        return df.alias("v").join(
            edges.alias("obs"),
            F.col("v.id") == F.col("obs.`__fp_target`"),
            "inner",
        )

    def _obs_view_frame(self, viewname: str) -> DataFrame | None:
        """Memoized, pinned triple join for one view: every view column
        under its own name plus every observed-data column under
        ``__fp_obs_<name>``. The first aggregate over it builds the cache;
        the rest of the family scans it from memory. A frame unpersisted
        by :func:`~firepit_spark.functions.release` is rebuilt and pinned
        again on its next use. ``None`` — callers then take the uncached
        path and fail exactly where the old code did — when the view has
        no ``id`` column (nothing to join on) or already carries a
        ``__fp_obs_`` column (the prefixed names would collide)."""
        # store into the dict read here: if a write swaps the memo out
        # meanwhile, this frame (built before the write) is not memoized
        frames = self._obs_frames
        df = frames.get(viewname)
        if df is None or not df.is_cached:
            v = self._resolve(viewname)
            if "id" not in v.columns or any(
                x.startswith(self._OBS_PREFIX) for x in v.columns
            ):
                return None
            joined = self._obs_join(v)
            obs_cols = self.table_df("observed-data").columns
            df = pin(joined.select(
                *[F.col(f"v.`{x}`").alias(x) for x in v.columns],
                *[
                    F.col(f"obs.`{x}`").alias(self._OBS_PREFIX + x)
                    for x in obs_cols
                ],
            ))
            frames[viewname] = df
        return df

    def _obs_path_frame(self, viewname: str, path: str):
        """(frame, value_col, prop, obs_col_fn) for the observation-count
        aggregates: the memoized per-view triple join when ``path`` is a
        direct column of the view (the overwhelmingly common case), else
        the per-call deref fallback over :meth:`_obs_join`.
        ``obs_col_fn`` maps an observed-data column name to its column in
        the returned frame."""
        prop = path.rpartition(":")[2]
        cached = self._obs_view_frame(viewname)
        if cached is not None and prop in cached.columns:
            return (
                cached,
                F.col(f"`{prop}`"),
                prop,
                lambda name: F.col(f"`{self._OBS_PREFIX}{name}`"),
            )
        df, prop = self._path_column(viewname, path)
        return (
            self._obs_join(df),
            F.col(f"v.`{prop}`"),
            prop,
            lambda name: F.col(f"obs.`{name}`"),
        )

    def extract_observeddata_attribute(
        self,
        viewname: str,
        name_of_attribute,
        path=None,
        value=None,
        limit=None,
        run=True,
    ):
        """Attach observed-data attributes to each row of a view, optionally
        projected to specific STIX paths and filtered to one value
        (parity: firepit/sqlstorage.py:913-975).

        ``name_of_attribute`` is a str or list of observed-data columns; the
        ``id`` attribute is aliased ``observation_id`` as in the reference.
        """
        validate_name(viewname)
        if isinstance(name_of_attribute, str):
            attrs = [name_of_attribute]
        elif isinstance(name_of_attribute, list):
            attrs = name_of_attribute
        else:
            raise TypeError("name_of_attribute must be str or list[str]")
        df = self._resolve(viewname)
        sco_type = self.table_type(viewname)
        if isinstance(path, (list, tuple)):
            paths, column = list(path), None
        elif path:
            paths, column = [path], path
        else:
            paths, column = [], None
        props = [
            (p, p.rpartition(":")[2] if ":" in p else p) for p in paths if p != "*"
        ]
        # memoized triple join when no deref is needed (r14-opt): the
        # per-view frame carries every view column plus every observed-data
        # column under the __fp_obs_ prefix
        cached = (
            self._obs_view_frame(viewname)
            if all(prop in df.columns for _, prop in props)
            else None
        )
        if cached is not None:
            joined = cached
            def ocol(a):
                return F.col(f"`{self._OBS_PREFIX}{a}`")
            def vcol(cname):
                return F.col(f"`{cname}`")
        else:
            if any(prop not in df.columns for _, prop in props):
                df = self._deref.deref(df, sco_type, paths=None)
            joined = self._obs_join(df)
            def ocol(a):
                return F.col(f"obs.`{a}`")
            def vcol(cname):
                return F.col(f"v.`{cname}`")
        if column is not None and value is not None:
            prop = column.rpartition(":")[2] if ":" in column else column
            joined = joined.filter(vcol(prop) == value)
        sel = [
            ocol(a).alias("observation_id" if a == "id" else a)
            for a in attrs
        ]
        order = ["observation_id" if a == "id" else a for a in attrs]
        if props:
            proj = [vcol(prop).alias(p) for p, prop in props]
        else:
            proj = [vcol(c).alias(c) for c in df.columns]
        out = joined.select(*sel, *proj).orderBy(*order)
        if limit:
            out = out.limit(limit)
        if not run:
            return out
        return [r.asDict() for r in out.collect()]

    def timestamped(
        self, viewname: str, path=None, value=None, timestamp="first_observed",
        limit=None, run=True,
    ):
        """Attach observation timestamps to each row
        (parity: firepit/sqlstorage.py:977-990)."""
        return self.extract_observeddata_attribute(
            viewname, timestamp, path, value, limit, run
        )

    def summary_df(self, viewname: str) -> DataFrame:
        """One-row frame MIN(first_observed), MAX(last_observed),
        SUM(number_observed) — the distributed core of :meth:`summary`.
        At scale the single row stays engine-side (broadcastable onto
        other frames) instead of collecting."""
        validate_name(viewname)
        cached = self._obs_view_frame(viewname)
        if cached is not None:
            p = self._OBS_PREFIX
            return cached.agg(
                F.min(f"{p}first_observed").alias("first_observed"),
                F.max(f"{p}last_observed").alias("last_observed"),
                F.sum(f"{p}number_observed").alias("number_observed"),
            )
        df = self._resolve(viewname)
        return self._obs_join(df).agg(
            F.min("obs.first_observed").alias("first_observed"),
            F.max("obs.last_observed").alias("last_observed"),
            F.sum("obs.number_observed").alias("number_observed"),
        )

    def summary(self, viewname: str, path=None, value=None):
        """MIN(first_observed), MAX(last_observed), SUM(number_observed)
        (parity: firepit/sqlstorage.py:992-1026), optionally restricted
        to rows whose (possibly dereferenced) ``path`` equals ``value``.
        Reference fallback reproduced exactly (sqlstorage.py:1019-1022):
        when the SUM comes back NULL (empty view / no observation
        links), the result is NULL first/last with ``number_observed =
        count(viewname)`` — note the reference quirk that this fallback
        counts the WHOLE view even when a path/value filter was given."""
        validate_name(viewname)
        if path is not None and value is not None:
            # filter-above-join ≡ the old filter-below-join: the predicate
            # is on a view-side column of an inner equi-join
            frame, val, _, oc = self._obs_path_frame(viewname, path)
            res = (
                frame.filter(val == value)
                .agg(
                    F.min(oc("first_observed")).alias("first_observed"),
                    F.max(oc("last_observed")).alias("last_observed"),
                    F.sum(oc("number_observed")).alias("number_observed"),
                )
                .collect()[0]
                .asDict()
            )
        else:
            res = self.summary_df(viewname).collect()[0].asDict()
        if res["number_observed"] is None:
            res = {
                "first_observed": None,
                "last_observed": None,
                "number_observed": self.count(viewname),
            }
        return res

    def _path_column(self, viewname: str, path: str):
        """(df, column) for a STIX path over a view: direct column, flat
        deref, or the reflist/multi-hop deref_path fallback."""
        sco_type, _, prop = path.rpartition(":")
        df = self._resolve(viewname)
        if prop in df.columns:
            return df, prop
        stype = sco_type or self.table_type(viewname)
        df2 = self._deref.deref(df, stype, paths=None)
        if prop in df2.columns:
            return df2, prop
        try:
            return self._deref.deref_path(df, stype, prop)
        except Exception:
            raise InvalidAttr(path)

    def value_counts_df(self, viewname: str, path: str) -> DataFrame:
        """Per-value observation counts as a DataFrame (the distributed core
        of :meth:`value_counts`; at scale callers keep the frame lazy
        instead of collecting the reference's list-of-dicts shape)."""
        validate_name(viewname)
        frame, val, prop, _ = self._obs_path_frame(viewname, path)
        return frame.groupBy(val.alias(prop)).agg(
            F.count(F.lit(1)).alias("count")
        )

    def value_counts(self, viewname: str, path: str):
        """Per-value observation counts (parity: firepit/sqlstorage.py:
        854-874). The value column is labeled with the FULL ``path``
        string exactly as the reference aliases it (sqlstorage.py:870
        — ``Column(col, table, path)``), so ``value_counts(v,
        'url:value')`` rows key on ``'url:value'``; the additive
        :meth:`value_counts_df` core keeps the bare property name
        (the join-friendly spelling)."""
        df = self.value_counts_df(viewname, path)
        prop = df.columns[0]
        if prop != path:
            df = df.withColumnRenamed(prop, path)
        return [r.asDict() for r in df.collect()]

    def observation_stats_df(self, viewname: str, path: str) -> DataFrame:
        """One-pass fusion of :meth:`value_counts` and per-value
        SUM(number_observed): a single triple join + a single groupBy
        computing both aggregates. The separate ``value_counts_df`` /
        ``number_observed_df`` cores exist for reference-API parity; a
        production caller wanting both at 100 TB should use this (half
        the scans, half the shuffles)."""
        validate_name(viewname)
        frame, val, prop, oc = self._obs_path_frame(viewname, path)
        return frame.groupBy(val.alias(prop)).agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(oc("number_observed")).alias("number_observed"),
        )

    def number_observed_df(self, viewname: str, path: str) -> DataFrame:
        """Per-value SUM(number_observed) as a DataFrame — the distributed
        core of :meth:`number_observed`, grouped by the path's value so one
        pass serves every value filter."""
        validate_name(viewname)
        frame, val, prop, oc = self._obs_path_frame(viewname, path)
        return frame.groupBy(val.alias(prop)).agg(
            F.sum(oc("number_observed")).alias("number_observed")
        )

    def number_observed(self, viewname: str, path: str, value=None) -> int:
        """SUM(number_observed) for a path (+ optional value filter)
        (parity: firepit/sqlstorage.py:891-911)."""
        validate_name(viewname)
        frame, val, _, oc = self._obs_path_frame(viewname, path)
        if value is not None:
            frame = frame.filter(val == value)
        row = frame.agg(F.sum(oc("number_observed"))).collect()[0]
        return row[0] or 0

    # -------------------------------------------------------------- catalog

    def remove_view(self, viewname: str):
        validate_name(viewname)
        self._invalidate_obs_caches(edges=False)
        self._views.pop(viewname, None)
        if viewname in self._meta:
            del self._meta[viewname]
            self._save_meta()
            mat = os.path.join(self.views_dir, viewname)
            if os.path.exists(mat):
                shutil.rmtree(mat)

    def rename_view(self, oldname: str, newname: str):
        validate_name(oldname)
        validate_name(newname)
        if oldname not in self._views and oldname not in self._meta:
            raise UnknownViewname(oldname)
        self._invalidate_obs_caches(edges=False)
        if oldname in self._views:
            self._views[newname] = self._views.pop(oldname)
        if oldname in self._meta:
            self._meta[newname] = self._meta.pop(oldname)
            old_mat = os.path.join(self.views_dir, oldname)
            if os.path.exists(old_mat):
                os.replace(old_mat, os.path.join(self.views_dir, newname))
            self._save_meta()

    def set_appdata(self, viewname: str, data: str):
        if viewname in self._views:
            self._views[viewname].appdata = data
        if viewname in self._meta:
            self._meta[viewname]["appdata"] = data
            self._save_meta()
        elif viewname not in self._views:
            raise UnknownViewname(viewname)

    def get_appdata(self, viewname: str):
        if viewname in self._views:
            return self._views[viewname].appdata
        if viewname in self._meta:
            return self._meta[viewname].get("appdata")
        raise UnknownViewname(viewname)

    def get_view_data(self, viewnames=None) -> list:
        names = viewnames or self.views()
        out = []
        for n in names:
            if n in self._views:
                out.append(
                    {"name": n, "type": self._views[n].sco_type,
                     "appdata": self._views[n].appdata}
                )
            elif n in self._meta:
                out.append({"name": n, **self._meta[n]})
        return out


def get_path_joins(viewname, sco_type, column):
    """Module-level reference-compat helper (firepit/sqlstorage.py:107-140):
    the implicit-join plan for a reference path column, independent of any
    store instance. Matches the reference's return contract — a
    ``(joins, target_table, target_column)`` triple where ``joins`` is a
    list of :class:`firepit_spark.query.Join` clauses (empty when the
    column needs no joins), ``target_table`` the aliased table the final
    column lives on, and ``target_column`` the dotted property there."""
    from firepit_spark.query import Join

    links = (
        props.parse_path(column)
        if ":" in column
        else props.parse_prop(sco_type, column)
    )
    alias_of = {sco_type: viewname}  # SCO type -> alias it joins under
    joins: list = []
    table = None  # table (or alias, once hopped) the final column lives on
    path: list = []  # dotted-property segments accumulated on that table

    for link in links or []:
        if link[0] == "node":  # (node, table, prop): extend the dotted path
            _, node_table, prop = link
            table = table or node_table or viewname
            path.append(prop)
        elif link[0] == "rel":  # (rel, src, ref_prop, dst): join hop
            _, src_type, ref_prop, dst_type = link
            path.clear()  # crossing a ref restarts the property path
            table = dst_type
            dst_alias = ref_prop.rpartition("_")[0]
            src_alias = alias_of.get(src_type or viewname, src_type or viewname)
            alias_of[dst_type] = dst_alias
            if ref_prop.endswith("_refs"):
                # list-valued ref: double hop through the __reflist edge table
                joins.append(
                    Join("__reflist", "id", "=", "source_ref",
                         lhs=src_alias, alias="r")
                )
                joins.append(
                    Join(dst_type, "target_ref", "=", "id",
                         lhs="r", alias=dst_alias)
                )
            else:
                # scalar ref: LEFT OUTER keeps rows whose ref is NULL
                joins.append(
                    Join(dst_type, ref_prop, "=", "id",
                         lhs=src_alias, alias=dst_alias, how="LEFT OUTER")
                )
        table = alias_of.get(table, table)
    return joins, table, ".".join(path) if path else None
