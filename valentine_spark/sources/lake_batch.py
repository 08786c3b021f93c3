"""``lake`` — a PySpark 4 Python Data Source (SPARK-44076) exposing
:class:`~valentine_spark.cdc.lake.LakeTable` snapshots as a plain batch read,
so lake tables compose with the whole ``spark.read`` ecosystem (joins, SQL
views, MLlib inputs) without touching the table API:

    register_lake(spark)              # also enables Python filter pushdown
    df = spark.read.format("lake").load("/path/to/lake")
    df = (spark.read.format("lake")
          .option("version", 7)       # snapshot time travel
          .option("branch", "audit")  # read a branch ref's head (or version)
          .load("/path/to/lake"))

Equivalence contract: for any snapshot the result is row-equal to
``LakeTable.read(version)`` (branch handles included) — property-tested in
``tests/test_lake_batch_source.py`` over clean, dirty (merge-on-read),
renamed/widened/defaulted, branched, and time-traveled states.

Filter pushdown (Spark 4.1 ``pushFilters``): conjunctive predicates on the
table's ``stats_cols`` prune DATA FILES at the manifest before any task is
planned — the same two-tier skipping as ``LakeTable.scan`` — and every
filter is returned to Spark for residual evaluation, so exactness NEVER
depends on the stats (a pruned file is a proof of emptiness; a kept file is
just a residual-filtered read).  Supported for pruning: ``=``, ``<``,
``<=``, ``>``, ``>=``, ``IN``; anything else simply doesn't prune.  Dirty
(merge-on-read) buckets are never pruned: a key's winner is decided across
file versions, and dropping a non-matching file could resurrect an older
matching version (same rule as ``LakeTable._prune_for_scan``).  Spark gates
the feature behind ``spark.sql.python.filterPushdown.enabled`` and REFUSES
a pushdown-capable reader when it is off, so ``register_lake`` turns the
conf on (runtime-settable); ``.option("pushdown", "false")`` opts a query
out entirely.

Plan shape at 10^5 files: planning is metadata-only on the driver (bucket
manifests, no file opened); CLEAN buckets emit one partition PER DATA FILE
(each file is independently live state under copy-on-write — maximum
parallelism), DIRTY buckets emit one partition per bucket (the bucket is
the merge-on-read resolution unit, sized ~1 GB at target scale).  Executors
pyarrow-read only their entries with driver-resolved era column maps and
initial defaults (rename/drop/widen/defaults evolution handled identically
to ``LakeTable.read`` — the executors never touch lake metadata).

When to use which (measured, BENCH/lake_ds_read.json at 190k rows):
``format("lake")`` pays the Python-worker + Arrow hop every scan — 1.5-5x
the native ``LakeTable.read`` JVM parquet path on this state (count 1.36 s
vs 0.29 s; length-sum 1.06 s vs 0.70 s; selective pruned scan 0.73 s vs
``scan()``'s 0.35 s).  Use the data source where composability is the
point — SQL views, catalog-less joins, tooling that only speaks
``spark.read`` — and ``LakeTable.read``/``scan`` for bulk analytics, where
whole-stage codegen reads parquet without leaving the JVM.

No reference counterpart; new construction (SURVEY.md §2.12).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterator, List, Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from valentine_spark.streaming.lake_source import (
    _KEY_COLS,
    _bucket_entries,
    _bucket_state,
    _read_meta,
    _with_colmaps,
)

_PUSH_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


@dataclass
class LakeSnapshotPartition(InputPartition):
    """One executor task: a clean data file, or a whole dirty (merge-on-read)
    bucket.  Picklable and self-contained — executors never read metadata."""

    root: str
    entries: List[dict] = field(default_factory=list)
    dirty: bool = False
    defaults: dict = field(default_factory=dict)




class LakeSnapshotReader(DataSourceReader):
    """Snapshot reader WITHOUT filter pushdown (selected by
    ``.option("pushdown", "false")`` — usable when
    ``spark.sql.python.filterPushdown.enabled`` must stay off, since Spark
    refuses any reader that overrides ``pushFilters`` under a disabled
    conf)."""

    def __init__(self, schema: T.StructType, options: dict, meta: dict):
        options = {k.lower(): v for k, v in options.items()}
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake format requires .load(<lake root path>)")
        self.schema = schema
        self.meta = meta
        # (col, op, val) conjuncts collected by pushFilters on the pushdown
        # subclass; always empty here
        self._preds: List[tuple] = []

    # -- planning (driver; metadata only) ---------------------------------

    def partitions(self) -> List[InputPartition]:
        from valentine_spark.cdc.lake import _entry_seq, _era_preds, _field_meta

        meta = self.meta
        fids = _field_meta(meta)[0]
        era_preds = _era_preds(meta, self._preds)
        dmap = meta.get("column_defaults") or {}
        defaults = {n: dmap[str(i)] for n, i in fids.items() if str(i) in dmap}
        dirty = meta.get("dirty", {})
        parts: List[InputPartition] = []
        for b in sorted(meta["buckets"], key=int):
            entries = _with_colmaps(fids, meta, _bucket_entries(self.root, meta, b))
            if str(b) in dirty or b in dirty:
                # merge-on-read bucket: resolve whole (never stats-pruned —
                # dropping one version of a key can resurrect an older one)
                parts.append(
                    LakeSnapshotPartition(self.root, entries, True, defaults)
                )
                continue
            for e in entries:
                if e.get("kind") == "tomb":
                    # a tombstone in a CLEAN bucket only names keys that
                    # were never present — skip (same as LakeTable.read)
                    continue
                if self._preds and not self._file_may_match(
                    e, era_preds(_entry_seq(e))
                ):
                    continue
                parts.append(
                    LakeSnapshotPartition(self.root, [e], False, defaults)
                )
        return parts

    @staticmethod
    def _file_may_match(entry: dict, preds: List[tuple]) -> bool:
        """Manifest-bounds pruning for one clean data file under ``preds``
        already translated to the file's era names (``_era_preds``); an
        ``in`` predicate may match when any of its values may."""
        from valentine_spark.cdc.lake import _file_may_match

        bounds = entry.get("cols")
        for col, op, val in preds:
            if op == "in":
                if not any(_file_may_match(bounds, [(col, "=", v)]) for v in val):
                    return False
            elif not _file_may_match(bounds, [(col, op, val)]):
                return False
        return True

    # -- execution (executor; no SparkSession, vectorized pyarrow) --------

    def read(self, partition: Optional[LakeSnapshotPartition]) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if partition is None:
            # Spark substitutes a single None partition when partitions()
            # returns an empty list (empty lake, or pushdown pruned every
            # file) — an empty plan means an empty result, not an error
            return iter(())
        cols = [f.name for f in self.schema.fields]
        nonkey = [c for c in cols if c not in _KEY_COLS]
        state = _bucket_state(
            partition.root, partition.entries, partition.dirty,
            cols, nonkey, partition.defaults or {},
        )
        if len(state) == 0:
            return iter(())
        yield pa.RecordBatch.from_pandas(
            state[cols], schema=to_arrow_schema(self.schema),
            preserve_index=False,
        )


class LakeSnapshotPushdownReader(LakeSnapshotReader):
    """Default reader: :class:`LakeSnapshotReader` + manifest-stats file
    pruning via Spark 4.1 filter pushdown (see module docstring)."""

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        names = {f.name for f in self.schema.fields}
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if attr is not None and len(attr) == 1 and attr[0] in names:
                op = _PUSH_OPS.get(type(flt))
                if op is not None:
                    self._preds.append((attr[0], op, flt.value))
                elif isinstance(flt, In):
                    self._preds.append((attr[0], "in", tuple(flt.value)))
        # EVERY filter goes back to Spark for residual evaluation —
        # pruning is a pure optimization, exactness never depends on it
        return iter(filters)


class LakeDataSource(DataSource):
    """``spark.read.format("lake").load(root)`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "lake"

    def _resolve_meta(self) -> dict:
        root = self.options.get("path")
        if not root:
            raise ValueError("lake format requires .load(<lake root path>)")
        version = self.options.get("version")
        ref = self.options.get("branch", "main")
        return _read_meta(root, int(version) if version is not None else None, ref=ref)

    def schema(self) -> T.StructType:
        meta = self._resolve_meta()
        # stash for reader(): the partition plan must serve the SAME
        # snapshot the schema came from (a commit racing between the two
        # calls must not move the read)
        self._meta = meta
        return T.StructType.fromJson(json.loads(meta["schema"]))

    def reader(self, schema: T.StructType) -> LakeSnapshotReader:
        meta = getattr(self, "_meta", None)
        if meta is None:  # user supplied .schema(...) explicitly
            meta = self._resolve_meta()
        pushdown = str(self.options.get("pushdown", "true")).lower() not in (
            "false", "0",
        )
        cls = LakeSnapshotPushdownReader if pushdown else LakeSnapshotReader
        return cls(schema, dict(self.options), meta)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        """``df.writeStream.format("lake")`` — the exactly-once streaming
        sink (``streaming/lake_sink.py``; wrap the stream in
        ``prepare_lake_sink`` first)."""
        if overwrite:
            raise ValueError(
                "the lake sink appends merge-on-read commits; complete/"
                "overwrite output mode is not supported (use append/update)"
            )
        from valentine_spark.streaming.lake_sink import LakeStreamWriter

        return LakeStreamWriter(schema, dict(self.options))


def register_lake(spark: SparkSession) -> None:
    """Register the ``lake`` batch format on this session (idempotent) and
    enable ``spark.sql.python.filterPushdown.enabled`` (runtime conf, off by
    default in Spark 4.1) so the default pushdown reader is accepted.

    What is registered is the pickle-by-value bootstrap shim, not
    :class:`LakeDataSource` directly — Spark 4.1's STREAMING planner workers
    receive no ``--py-files`` includes, so a by-reference pickle of this
    module dies with ModuleNotFoundError under ``spark-submit --py-files``
    (see ``streaming/_pyfiles_bootstrap.py``).  In-process sessions take the
    same path so the deployed configuration is the tested configuration."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from valentine_spark.streaming._pyfiles_bootstrap import (
        LakeBootstrapDataSource,
    )

    spark.dataSource.register(LakeBootstrapDataSource)
