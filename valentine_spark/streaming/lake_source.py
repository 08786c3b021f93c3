"""``lake_changes`` — a PySpark 4 Python Data Source (SPARK-44076) that
exposes a ``LakeTable``'s changelog as a genuine Structured Streaming source:

    register_lake_changes(spark)
    df = (spark.readStream.format("lake_changes")
          .option("startingVersion", "earliest")
          .load("/path/to/lake"))

The same format also serves BATCH window reads (the Delta CDF batch-read /
Iceberg incremental-read analogue) — see :class:`LakeChangesBatchReader`:

    df = (spark.read.format("lake_changes")
          .option("fromVersion", 3).option("toVersion", 9)
          .load("/path/to/lake"))

Offsets are lake snapshot VERSIONS (the natural log position of a
snapshot-versioned table — the same choice Delta's streaming source makes),
so Spark's own offset log in the streaming checkpoint carries the follower
position and the engine replays an interrupted micro-batch over the identical
(start, end] window: the per-bucket diff below is a pure function of the two
snapshots, so recovery re-produces byte-identical batches (exactly-once with
any idempotent streaming sink, e.g. ``foreachBatch`` keyed on ``batchId``).

Scale shape — this is the part a naive wrapper gets wrong:

* ``partitions(start, end)`` runs on the DRIVER and is metadata-only: two
  snapshot JSONs are compared and one :class:`BucketDiffPartition` is emitted
  per bucket whose manifest pointer changed — O(churned buckets) tasks, never
  O(table).
* ``read(partition)`` runs on EXECUTORS with no SparkSession: each task
  pyarrow-reads only its bucket's files at both versions, resolves
  merge-on-read state locally (per-key max of (commit-version, liveness) —
  the same rule as ``LakeTable._resolved_files``), diffs old vs new by key in
  pandas, and yields Arrow RecordBatches (vectorized end-to-end, no per-row
  Python).  Buckets are sized ~1 GB at target scale (``cdc/lake.py``), so a
  two-version bucket pair fits one task comfortably.

Equivalence contract: for any window, the union of all partitions' output
equals ``LakeTable.changes(start, end)`` — property-tested in
``tests/test_lake_source.py`` over clean, dirty (MoR), delete-heavy, and
evolved windows.  ``.option("includeBefore", "true")`` adds ``_before_<col>``
columns (the FROM-side payload, null on inserts — equal to
``changes(include_before=True)``), which is what lets incremental view
maintenance (``cdc/ivm.py``) run directly off a foreachBatch of this source
— see ``test_streaming_ivm_end_to_end``.

Divergence to know about: a streaming query's schema is fixed at query start,
so columns added by ``evolve_schema`` mid-stream are not emitted until the
query restarts, and rows whose ONLY change is in such a column classify by
the query-start columns (no change ⇒ not emitted).  ``changes()``, which
re-reads the TO-version schema per call, would emit them as updates.

The lake root must be reachable from executors (local/NFS path here; an
object store would swap the ``open``/``pyarrow`` calls for fsspec — the
partition/diff logic is storage-agnostic).

Admission control: the Python data source API (Spark 4.1) does not pass
read limits to ``latestOffset``, so by default each micro-batch covers the
full catch-up window (whose COST is already bounded — one endpoint diff
over churned buckets, never per-interior-commit work).
``.option("maxVersionsPerBatch", N)`` bounds steady-state batches to N lake
versions each.  The cap is MONOTONE — computed relative to the last offset
this reader emitted (or learned from a replayed ``partitions`` call), never
from scratch — because a from-scratch cap could regress behind Spark's
committed offset and the resulting inverted window would commit an empty
batch over data that then re-delivers.  A FRESH query's start offset IS
observable (``initialOffset`` seeds the cap), so even the initial backfill
is metered.  The one window the cap cannot bound is the first batch after
a RESTART with no pending batch to replay: the committed offset is not
observable from ``latestOffset``, so that call returns the lake head (a
single safe catch-up batch) and capping resumes from there.

No reference counterpart; new construction (SURVEY.md §2.8).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Iterator, List, Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from valentine_spark.cdc.lake import _latest_snapshot_version

# key columns of the lake's table model (kept literal here: read() must not
# depend on driver-only state, and the generator module is driver-side)
_KEY_COLS = ["repo", "path", "commit"]
_VER_RE = re.compile(r"/data/v(\d+)/")


# -- driver-side metadata helpers (pure json/os — no SparkSession) ----------

def _read_meta(root: str, version: Optional[int] = None, ref: str = "main") -> dict:
    meta_dir = (
        os.path.join(root, "metadata")
        if ref == "main"
        else os.path.join(root, "metadata", "refs", ref)
    )
    if version is None:
        version = _latest_snapshot_version(meta_dir)
    path = os.path.join(meta_dir, f"v{version}.json")
    if not os.path.exists(path):
        raise RuntimeError(
            f"lake snapshot v{version} (ref {ref!r}) not found under {root!r} "
            f"(expired by retention?); restart the stream or set startingVersion"
        )
    with open(path) as fh:
        return json.load(fh)


def _bucket_entries(root: str, meta: dict, bucket: str) -> List[dict]:
    rel = meta["buckets"][bucket]
    with open(os.path.join(root, rel)) as fh:
        return json.load(fh)["buckets"][bucket]


@dataclass
class BucketDiffPartition(InputPartition):
    """One churned bucket's two-version diff task (picklable, self-contained:
    executors never touch lake metadata)."""

    root: str
    bucket: int
    old_entries: List[dict] = field(default_factory=list)
    new_entries: List[dict] = field(default_factory=list)
    old_dirty: bool = False
    new_dirty: bool = False
    # stream-name-keyed initial defaults, resolved PER BATCH from the
    # window's end-version meta (not pinned at query start): a column
    # dropped mid-stream leaves that meta's column_defaults with the drop,
    # so post-drop files fill NULL — the default never resurrects
    defaults: dict = field(default_factory=dict)


class LakeChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict,
                 schema_meta: Optional[dict] = None):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake_changes requires .load(<lake root path>)")
        self.schema = schema  # query-start schema, fixed for the stream's life
        start = str(options.get("startingversion", options.get("startingVersion", "earliest")))
        if start == "earliest":
            self._start = 0
        elif start == "latest":
            self._start = _read_meta(self.root)["version"]
        else:
            self._start = int(start)
        self._max_versions = int(
            options.get("maxversionsperbatch", options.get("maxVersionsPerBatch", 0))
        )
        # highest offset this reader has emitted or observed (see module
        # docstring, "Admission control"); None until the first call
        self._last_end: Optional[int] = None
        # field ids of the query-start schema: files written under OLDER
        # column names (rename_column never rewrites data) map back to the
        # stream's fixed names by id (see _with_colmaps); same id contract
        # as LakeTable._read_files.  The ids MUST come from the same
        # snapshot the stream schema came from (schema_meta, stashed by
        # LakeChangesDataSource.schema()): re-reading CURRENT here would
        # race a rename committing between the two reads — ids keyed by the
        # new name against a fixed schema holding the old one silently
        # nulls that column for the stream's whole run.  Fallback to
        # CURRENT only when no stash exists (user-supplied schema path).
        from valentine_spark.cdc.lake import _field_meta

        _meta = schema_meta if schema_meta is not None else _read_meta(self.root)
        self._fids = _field_meta(_meta)[0]

    # -- offsets -----------------------------------------------------------

    def initialOffset(self) -> dict:
        # a FRESH query's start offset IS observable here (unlike a restart,
        # where Spark replays the checkpoint without calling initialOffset):
        # seed the admission cap so maxVersionsPerBatch bounds the very first
        # backfill batch too, instead of diffing (start, head] in one shot
        # over an arbitrarily deep history
        if self._max_versions > 0:
            self._last_end = self._start
        return {"version": self._start}

    def latestOffset(self) -> dict:
        cur = _read_meta(self.root)["version"]
        if self._max_versions <= 0:
            return {"version": cur}
        if self._last_end is None:
            # first call after a RESTART: the committed offset is not
            # observable here, and emitting anything below it would invert
            # the next window — one uncapped catch-up batch is the safe base
            self._last_end = cur
        else:
            self._last_end = min(cur, self._last_end + self._max_versions)
        return {"version": self._last_end}

    def commit(self, end: dict) -> None:
        # retention is the table's policy, not the consumer's; but a
        # committed end is a floor for the monotone admission cap
        v = int(end["version"])
        if self._last_end is None or v > self._last_end:
            self._last_end = v

    # -- planning (driver) ---------------------------------------------------

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        v0, v1 = int(start["version"]), int(end["version"])
        if self._last_end is None or v1 > self._last_end:
            self._last_end = v1  # learn position from a replayed batch
        return _plan_window(self.root, self._fids, v0, v1)

    # -- execution (executor; no SparkSession, vectorized pyarrow/pandas) ----

    def read(self, partition: BucketDiffPartition) -> Iterator:
        return _read_diff(self.schema, partition)


def _with_colmaps(fids: dict, meta: dict, entries: List[dict]) -> List[dict]:
    """Inject a ``_colmap`` (query name -> physical name | None) into
    entries whose era's physical column names differ from the query's
    fixed names — the driver resolves the schema log once so executors
    stay metadata-free.  ``None`` forces NULL (the field id did not exist
    in that era: a dropped-then-readded column's stale same-named bytes
    must not resurrect)."""
    log = meta.get("schema_log")
    if not log or len(log) <= 1:
        return entries
    from valentine_spark.cdc.lake import _era_colmap

    out = []
    for e in entries:
        if e.get("kind") == "tomb":
            out.append(e)
            continue
        seq = e.get("seq")
        if seq is None:
            m = _VER_RE.search("/" + e["path"])
            seq = int(m.group(1)) if m else 0
        # era resolution is lake.py's rule — one implementation; None
        # means identity (no _colmap needed)
        cm = _era_colmap(fids, log, int(seq))
        out.append(e if cm is None else {**e, "_colmap": cm})
    return out


def _plan_window(root: str, fids: dict, v0: int, v1: int) -> List[InputPartition]:
    """Driver-side, metadata-only planning of the (v0, v1] change window —
    shared by the streaming reader (one micro-batch) and the batch reader
    (the whole requested window): one :class:`BucketDiffPartition` per
    churned bucket group."""
    if v1 <= v0:
        return []
    m0, m1 = _read_meta(root, v0), _read_meta(root, v1)
    d0, d1 = m0.get("dirty", {}), m1.get("dirty", {})
    # Buckets are paired by id mod gcd(n_buckets(v0), n_buckets(v1)).
    # With equal layouts g == n and this is the plain per-bucket diff;
    # across a rebucket() boundary the integer-factor invariant makes
    # key_bucket mod g layout-INDEPENDENT, so grouping both layouts'
    # buckets by id mod g pairs exactly the buckets that can hold the
    # same keys — no key re-hashing, at the one-time cost of coarser
    # (g-granular) boundary-batch partitions.
    import math

    g = math.gcd(int(m0["n_buckets"]), int(m1["n_buckets"]))
    # defaults by QUERY name, from the end-version meta's id-keyed
    # map: ids the window's head dropped are gone from it, so their
    # pre-drop default cannot be fabricated into post-drop files
    dmap = m1.get("column_defaults") or {}
    defaults = {n: dmap[str(i)] for n, i in fids.items() if str(i) in dmap}
    groups: dict = {}
    for b in set(m0["buckets"]) | set(m1["buckets"]):
        groups.setdefault(int(b) % g, []).append(b)
    parts: List[InputPartition] = []
    for c in sorted(groups):
        members = sorted(groups[c], key=int)
        if all(m0["buckets"].get(b) == m1["buckets"].get(b) for b in members):
            continue  # every pointer unchanged => group state unchanged
        old_e: List[dict] = []
        new_e: List[dict] = []
        od = nd = False
        for b in members:
            if b in m0["buckets"]:
                old_e.extend(_with_colmaps(fids, m0, _bucket_entries(root, m0, b)))
                od = od or b in d0
            if b in m1["buckets"]:
                new_e.extend(_with_colmaps(fids, m1, _bucket_entries(root, m1, b)))
                nd = nd or b in d1
        parts.append(
            BucketDiffPartition(
                root=root,
                bucket=c,
                old_entries=old_e,
                new_entries=new_e,
                old_dirty=od,
                new_dirty=nd,
                defaults=defaults,
            )
        )
    return parts


def _read_diff(schema: T.StructType, partition: Optional[BucketDiffPartition]) -> Iterator:
    """Executor-side two-version diff of one bucket group (no SparkSession;
    vectorized pyarrow/pandas) — shared by the streaming and batch readers."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if partition is None:
        # Spark's batch planner substitutes a single None partition when
        # partitions() returns an empty list (an empty change window —
        # fromVersion == head, or only metadata commits inside it); an
        # empty plan means an empty changelog, not an error
        return iter(())

    before_cols = [f.name for f in schema.fields if f.name.startswith("_before_")]
    cols = [
        f.name for f in schema.fields
        if f.name != "change_op" and not f.name.startswith("_before_")
    ]
    nonkey = [c for c in cols if c not in _KEY_COLS]

    defaults = partition.defaults or {}
    old = _bucket_state(partition.root, partition.old_entries,
                        partition.old_dirty, cols, nonkey, defaults)
    new = _bucket_state(partition.root, partition.new_entries,
                        partition.new_dirty, cols, nonkey, defaults)
    merged = new.merge(
        old, on=_KEY_COLS, how="outer", suffixes=("", "__old"), indicator=True
    )
    is_ins = merged["_merge"] == "left_only"
    is_del = merged["_merge"] == "right_only"
    same = pd.Series(True, index=merged.index)
    for c in nonkey:
        a, b = merged[c], merged[f"{c}__old"]
        same &= (a == b) | (a.isna() & b.isna())
    is_upd = (merged["_merge"] == "both") & ~same
    out = merged[is_ins | is_del | is_upd].copy()
    if len(out) == 0:
        return iter(())
    op = pd.Series("update", index=out.index)
    op[is_ins[out.index]] = "insert"
    op[is_del[out.index]] = "delete"
    out["change_op"] = op
    # deletes carry key cols with null payload (match changes() contract)
    dmask = out["change_op"] == "delete"
    for c in nonkey:
        out.loc[dmask, c] = None
    # before-images (includeBefore option): the FROM-side payload, null
    # on inserts — same contract as changes(include_before=True)
    for bc in before_cols:
        out[bc] = out[f"{bc[len('_before_'):]}__old"]
    out = out[["change_op"] + cols + before_cols]
    yield pa.RecordBatch.from_pandas(
        out, schema=to_arrow_schema(schema), preserve_index=False
    )


def _bucket_state(root: str, entries: List[dict], dirty: bool,
                  cols: List[str], nonkey: List[str],
                  defaults: Optional[dict] = None):
    """Executor-side snapshot of one bucket as a pandas frame (one live row
    per key) — the pyarrow mirror of ``LakeTable.read`` for a single bucket:
    clean buckets are scan-only (tombstone entries name never-present keys
    and are skipped, as in ``lake.read``); dirty (merge-on-read) buckets
    resolve per key by max (commit-version, liveness), the
    ``_resolved_files`` rule."""
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    for e in entries:
        kind = e.get("kind", "data")
        if kind == "tomb" and not dirty:
            continue
        tbl = pq.read_table(os.path.join(root, e["path"]))
        pdf = tbl.to_pandas()
        cm = e.get("_colmap")
        if cm:
            # era mapping (rename/drop evolution): one atomic re-projection
            # physical -> stream names (atomic so swap-renames work and a
            # dropped-then-readded column's stale same-named bytes never
            # leak); columns outside the map (_khash bookkeeping) pass through
            phys_names = {p for p in cm.values() if p}
            mapped = {
                cur: pdf[phys]
                for cur, phys in cm.items()
                if phys is not None and phys in pdf.columns
            }
            passthrough = {
                c: pdf[c] for c in pdf.columns if c not in cm and c not in phys_names
            }
            pdf = pd.DataFrame({**passthrough, **mapped})
        if e.get("seq") is not None:
            # install-time commit sequence number (multi-writer safe)
            pdf["_v"] = int(e["seq"])
        else:  # legacy entry: version encoded in the data/v{N}/ path
            m = _VER_RE.search("/" + e["path"])
            pdf["_v"] = int(m.group(1)) if m else 0
        pdf["_live"] = 0 if kind == "tomb" else 1
        for c in cols:  # files predating a schema evolution lack new columns
            if c not in pdf.columns:
                # initial default, matching lake.read()'s era projection
                pdf[c] = (defaults or {}).get(c)
        frames.append(pdf[_KEY_COLS + nonkey + ["_v", "_live"]])
    if not frames:
        return pd.DataFrame(columns=_KEY_COLS + nonkey)
    u = pd.concat(frames, ignore_index=True)
    if dirty:
        u = (
            u.sort_values(["_v", "_live"], kind="stable")
            .groupby(_KEY_COLS, as_index=False, sort=False)
            .tail(1)
        )
        u = u[u["_live"] == 1]
    return u.drop(columns=["_v", "_live"]).reset_index(drop=True)


class LakeChangesBatchReader(DataSourceReader):
    """Batch changelog read — the Delta CDF ``spark.read.option(...)`` /
    Iceberg incremental-read analogue over the same planning and diff
    machinery as the stream:

        spark.read.format("lake_changes")
             .option("fromVersion", 3)      # exclusive base (required)
             .option("toVersion", 9)        # inclusive head (default CURRENT)
             .load(root)

    Window semantics are exactly ``LakeTable.changes(from, to)``: the diff
    of the two snapshot STATES, so interior back-and-forth churn nets out.
    ``includeBefore`` adds ``_before_<col>`` images like the stream."""

    def __init__(self, schema: T.StructType, options: dict,
                 schema_meta: Optional[dict] = None):
        options = {k.lower(): v for k, v in options.items()}
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake_changes requires .load(<lake root path>)")
        self.schema = schema
        if "fromversion" not in options:
            raise ValueError(
                "batch lake_changes requires .option('fromVersion', <exclusive "
                "base version>); use version 0 for the full history"
            )
        self._v0 = int(options["fromversion"])
        to = options.get("toversion")
        if to is not None:
            self._v1 = int(to)
        elif schema_meta is not None:
            # pin the default window head to the SAME snapshot schema()
            # resolved — a commit racing between the two calls must not
            # widen the window past the schema it will be served under
            self._v1 = int(schema_meta["version"])
        else:
            self._v1 = _read_meta(self.root)["version"]
        if self._v1 < self._v0:
            raise ValueError(f"toVersion {self._v1} < fromVersion {self._v0}")
        from valentine_spark.cdc.lake import _field_meta

        # field ids resolved against the TO-version snapshot the schema came
        # from (same stash contract as the stream reader)
        _meta = schema_meta if schema_meta is not None else _read_meta(self.root, self._v1)
        self._fids = _field_meta(_meta)[0]

    def partitions(self) -> List[InputPartition]:
        return _plan_window(self.root, self._fids, self._v0, self._v1)

    def read(self, partition: BucketDiffPartition) -> Iterator:
        return _read_diff(self.schema, partition)


class LakeChangesDataSource(DataSource):
    """``spark.readStream.format("lake_changes").load(root)`` (streaming
    tail) or ``spark.read.format("lake_changes").option("fromVersion", N)
    .load(root)`` (batch window) — see module and
    :class:`LakeChangesBatchReader` docstrings.  The source schema is
    ``change_op`` + the lake's schema at the window head (CURRENT for the
    stream; ``toVersion`` for a pinned batch window)."""

    @classmethod
    def name(cls) -> str:
        return "lake_changes"

    def schema(self) -> T.StructType:
        root = self.options.get("path")
        if not root:
            raise ValueError("lake_changes requires .load(<lake root path>)")
        to = self.options.get("toversion")
        meta = _read_meta(root, int(to) if to is not None else None)
        # stash for streamReader(): the reader's field-id map must be
        # resolved against THIS snapshot, not a fresh CURRENT read (a
        # rename committing in between would desynchronize ids and names)
        self._schema_meta = meta
        table_schema = T.StructType.fromJson(json.loads(meta["schema"]))
        fields = [T.StructField("change_op", T.StringType(), False)] + list(
            table_schema.fields
        )
        # includeBefore: FROM-side payload per non-key column (the
        # before-image delta consumers like IVM retract against)
        if str(self.options.get("includebefore",
                                self.options.get("includeBefore", ""))).lower() in ("true", "1"):
            fields += [
                T.StructField(f"_before_{f.name}", f.dataType)
                for f in table_schema.fields
                if f.name not in _KEY_COLS
            ]
        return T.StructType(fields)

    def streamReader(self, schema: T.StructType) -> LakeChangesStreamReader:
        return LakeChangesStreamReader(
            schema, dict(self.options),
            schema_meta=getattr(self, "_schema_meta", None),
        )

    def reader(self, schema: T.StructType) -> LakeChangesBatchReader:
        return LakeChangesBatchReader(
            schema, dict(self.options),
            schema_meta=getattr(self, "_schema_meta", None),
        )


def register_lake_changes(spark: SparkSession) -> None:
    """Register the ``lake_changes`` format on this session (idempotent).

    Registers the pickle-by-value bootstrap shim rather than
    :class:`LakeChangesDataSource` directly, so the source survives Spark
    4.1's streaming planner workers that get no ``--py-files`` includes
    (``streaming/_pyfiles_bootstrap.py``)."""
    from valentine_spark.streaming._pyfiles_bootstrap import (
        LakeChangesBootstrapDataSource,
    )

    spark.dataSource.register(LakeChangesBootstrapDataSource)
