"""General conditional MERGE INTO — the Delta/Iceberg ``MERGE INTO``
analogue over the lake's file-pruned copy-on-write machinery.

The CDC hot path (`LakeTable.merge`) is deliberately narrow: pre-deduped
upserts + deletes, one row per key.  Real lake users also need the full
SQL-2003/2023 MERGE shape —

    MERGE INTO t USING s ON t.key = s.key
    WHEN MATCHED [AND cond] THEN UPDATE SET ... / DELETE
    WHEN NOT MATCHED [AND cond] THEN INSERT ...
    WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE ... / DELETE

— which this module provides as a fluent builder (the same API shape as
Delta Lake's ``DeltaTable.merge``), executed as ONE optimistic commit:

    (lake.merge_into(source)
         .when_matched_update({"lang": F.col("s.lang")},
                              condition=F.col("s.lang") != F.col("t.lang"))
         .when_matched_delete(condition=F.col("s.op") == "erase")
         .when_not_matched_insert()
         .execute(batch_id="b42"))

Semantics (standard SQL MERGE):
  * the join key is the table key (``KEY_COLS``) — conditions and SET /
    INSERT values are Column expressions over the aliases ``t`` (target)
    and ``s`` (source);
  * clauses of each branch are evaluated IN ORDER; the first clause whose
    condition is true applies; a row matching no clause is kept (matched /
    by-source branches) or dropped (not-matched branch);
  * every SET expression sees the ORIGINAL target row (single projection,
    never sequential ``withColumn``);
  * a NULL condition is false (never mutates);
  * the source must be unique per key — a target row matched by two
    source rows is the SQL cardinality violation and raises (skip the
    check with ``execute(assume_unique=True)`` when uniqueness is known).

Scale posture (what makes this survive 10^10 rows):
  * WITHOUT by-source clauses, the target side of the join is pruned to
    the files that can contain a source key — the same two-phase khash
    range-cut + match-confirm used by the CDC merge
    (``LakeTable._touched_file_ids``); bounds-excluded files are carried
    byte-identical in the manifest, so cost is O(files touched), not
    O(table);
  * WITH a by-source clause every target row must be evaluated, so the
    whole table is read and rewritten — documented full-scan cost, the
    same trade Delta makes for ``whenNotMatchedBySource``;
  * dirty (merge-on-read) buckets that intersect the source's bucket set
    resolve in-flight and come out clean — MERGE cannot be evaluated
    against unresolved multi-version state;
  * exactly-once under ``batch_id``; optimistic-concurrency body retries
    with read-set validation, identical to ``merge``/``compact``.

Per-action row counts come from a ``pyspark.sql.Observation`` attached to
the write job — no second pass over the data.

Reference anchor: the reference engine has no lake writer at all (it is a
schema-matching library); this surface exists because the north star is a
CDC/incremental-ingest engine and MERGE INTO is its table-maintenance
front door.
"""

from __future__ import annotations

import json
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .generator import KEY_COLS

__all__ = ["MergeIntoBuilder", "MergeCardinalityError"]


class MergeCardinalityError(ValueError):
    """A target row was matched by more than one source row (the SQL
    MERGE cardinality violation — the update/delete to apply would be
    non-deterministic)."""


def _as_col(v, dtype: Optional[T.DataType]) -> Column:
    c = v if isinstance(v, Column) else F.lit(v)
    return c.cast(dtype) if dtype is not None else c


class MergeIntoBuilder:
    """Fluent MERGE INTO builder; obtain via ``LakeTable.merge_into(source)``."""

    def __init__(self, lake, source: DataFrame):
        missing = [k for k in KEY_COLS if k not in source.columns]
        if missing:
            raise ValueError(
                f"merge source must carry the table key columns; missing {missing}"
            )
        self._lake = lake
        self._source = source
        # (branch, kind, condition|None, values|None) in declaration order
        self._clauses: List[Tuple[str, str, Optional[Column], Optional[dict]]] = []

    # -- clause declaration (returns self for chaining) -------------------

    def when_matched_update(
        self, set_values: Dict[str, object], condition: Optional[Column] = None
    ) -> "MergeIntoBuilder":
        if not set_values:
            raise ValueError("when_matched_update requires at least one SET column")
        self._clauses.append(("matched", "update", condition, dict(set_values)))
        return self

    def when_matched_delete(self, condition: Optional[Column] = None) -> "MergeIntoBuilder":
        self._clauses.append(("matched", "delete", condition, None))
        return self

    def when_not_matched_insert(
        self, values: Optional[Dict[str, object]] = None, condition: Optional[Column] = None
    ) -> "MergeIntoBuilder":
        """INSERT the source row (default: same-named source columns, NULL
        for target columns the source lacks).  ``values`` overrides non-key
        columns; key columns always come from the source key (the row's
        matched-ness was decided on it — letting INSERT rewrite the key
        could collide with a live key the pruning never read)."""
        if values:
            bad = sorted(set(values) & set(KEY_COLS))
            if bad:
                raise ValueError(
                    f"INSERT values may not override key columns {bad}; "
                    "the inserted key is the source key by construction"
                )
        self._clauses.append(("not_matched", "insert", condition, dict(values or {})))
        return self

    def when_not_matched_by_source_update(
        self, set_values: Dict[str, object], condition: Optional[Column] = None
    ) -> "MergeIntoBuilder":
        """UPDATE target rows with no source match.  Forces a full-table
        rewrite scan (every target row must be evaluated) — O(table), not
        O(touched files); same documented trade as Delta's
        ``whenNotMatchedBySourceUpdate``."""
        if not set_values:
            raise ValueError("by-source update requires at least one SET column")
        self._clauses.append(("by_source", "update", condition, dict(set_values)))
        return self

    def when_not_matched_by_source_delete(
        self, condition: Optional[Column] = None
    ) -> "MergeIntoBuilder":
        """DELETE target rows with no source match (full-table scan; see
        ``when_not_matched_by_source_update``)."""
        self._clauses.append(("by_source", "delete", condition, None))
        return self

    # -- execution ---------------------------------------------------------

    def execute(
        self, batch_id: Optional[str] = None, assume_unique: bool = False
    ) -> dict:
        """Run the MERGE as one optimistic commit; returns the commit
        summary (per-action row counts, files rewritten/carried).

        The source DataFrame is evaluated by up to three Spark jobs
        (invariant check, file-range cut, join+write — plus re-runs on
        commit conflicts).  For a source that is expensive to recompute
        (a decoded WAL stream, a remote scan), ``.persist()`` it around
        this call — same guidance as ``wal.py``'s decoders; cheap sources
        (parquet slices, generated frames) recompute faster than they
        cache, so no persist is taken here by default."""
        if not self._clauses:
            raise ValueError("MERGE INTO requires at least one WHEN clause")
        lake = self._lake
        # exactly-once fast path FIRST: a replayed duplicate batch must skip
        # on metadata alone, not after a full source aggregation (the
        # cardinality check below scans the source)
        if batch_id is not None and lake.is_applied(batch_id):
            return {
                "batch_id": batch_id, "skipped": True, "version": lake.version
            }
        # NULL keys must be rejected UNCONDITIONALLY (assume_unique skips
        # only the uniqueness aggregation): the clause cascade matches with
        # eqNullSafe but the file-pruning confirm join is a plain equi-join
        # (NULL != NULL), so a NULL-keyed row would be range-hit yet never
        # confirmed — silently classified not-matched (duplicate insert /
        # lost update on every replay) instead of erroring.
        from functools import reduce

        null_key = reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in KEY_COLS]
        )
        if assume_unique:
            # cheap standalone check: filter + take(1) short-circuits on the
            # first offending row, no shuffle
            if self._source.where(null_key).take(1):
                raise MergeCardinalityError(
                    "merge source holds NULL key columns — the key "
                    f"({', '.join(KEY_COLS)}) identifies a row and must be "
                    "non-null in every source row"
                )
        else:
            # one job checks BOTH source invariants: key uniqueness and
            # key non-nullness
            chk = (
                self._source.groupBy(*KEY_COLS)
                .count()
                .agg(
                    F.max(F.col("count")).alias("maxc"),
                    F.max(F.when(null_key, 1).otherwise(0)).alias("nullk"),
                )
                .collect()[0]
            )
            if int(chk["nullk"] or 0):
                raise MergeCardinalityError(
                    "merge source holds NULL key columns — the key "
                    f"({', '.join(KEY_COLS)}) identifies a row and must be "
                    "non-null in every source row"
                )
            if int(chk["maxc"] or 0) > 1:
                raise MergeCardinalityError(
                    "merge source holds duplicate keys — each target row must "
                    "be matched by at most one source row (pre-aggregate the "
                    "source, e.g. with lww_dedup, or pass assume_unique=True "
                    "if uniqueness is guaranteed upstream)"
                )
        return lake._retry_body(lambda: self._execute_once(batch_id))

    def _execute_once(self, batch_id: Optional[str]) -> dict:
        from .lake import BUCKET_COL, KHASH_COL, bucket_expr, khash_expr

        lake = self._lake
        meta = lake.metadata()
        if batch_id is not None and lake.is_applied(batch_id, meta):
            return {"batch_id": batch_id, "skipped": True, "version": meta["version"]}
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        n_buckets = meta["n_buckets"]
        schema_cols = [f.name for f in schema.fields]
        self._validate_set_columns(schema_cols)
        scans_by_source = any(b == "by_source" for b, _, _, _ in self._clauses)

        # coerce source key columns to the TABLE's key dtypes BEFORE any
        # hashing: bucket/khash are computed over the raw column bytes, so
        # a source whose 'commit' arrived as an int would hash differently
        # from the stored string — the file holding the key never
        # range-hits, the row is silently classified not-matched, and an
        # insert clause writes a duplicate beside the original
        source = self._source
        key_types = {f.name: f.dataType for f in schema.fields if f.name in KEY_COLS}
        for k in KEY_COLS:
            if source.schema[k].dataType != key_types[k]:
                source = source.withColumn(k, F.col(k).cast(key_types[k]))
        src = source.withColumn(BUCKET_COL, bucket_expr(n_buckets)).withColumn(
            KHASH_COL, khash_expr()
        )
        files = lake._bucket_files(meta)
        dirty = meta.get("dirty", {})
        if scans_by_source:
            # every target row is evaluated: all buckets touched, nothing
            # carried (a by-source clause may mutate any row)
            read = {
                b: es if str(b) in dirty else [e for e in es if e.get("kind") != "tomb"]
                for b, es in files.items()
            }
            carry: Dict[int, List[dict]] = {}
        else:
            # every clean bucket's files enter the range cut directly — the
            # cut joins on bucket equality, so entries outside the source's
            # bucket set fall out of phase 1 for free, and skipping the
            # separate distinct-source-buckets job removes one whole Spark
            # job from the per-commit fixed adder (BENCH §2i).  Clean-bucket
            # tombstones are no candidates and drop out of rewritten
            # buckets' manifests (see LakeTable._live_rows).
            flat_entries = [
                (b, e)
                for b, entries in files.items()
                if str(b) not in dirty
                for e in entries
                if e.get("kind") != "tomb"
            ]
            touched_keys = src.select(*KEY_COLS, BUCKET_COL, KHASH_COL)
            touched_ids = (
                set(lake._touched_file_ids(flat_entries, touched_keys))
                if flat_entries
                else set()
            )
            read = {}
            carry = {}
            for i, (b, e) in enumerate(flat_entries):
                (read if i in touched_ids else carry).setdefault(b, []).append(e)
            # every dirty bucket resolves in-flight: matched-ness cannot be
            # evaluated against multi-version state, and whether a source
            # key lives there is unknowable without a job — resolving
            # unconditionally trades a rare extra fold (dirty buckets are
            # bounded by the compaction policy) for the removed job above
            read.update((b, es) for b, es in files.items() if str(b) in dirty)

        target = lake._live_rows(meta, read, n_buckets)
        if target is None:
            empty = T.StructType(
                list(schema.fields)
                + [T.StructField(BUCKET_COL, T.LongType()), T.StructField(KHASH_COL, T.LongType())]
            )
            target = lake.spark.createDataFrame([], empty)

        out, obs, action_names = self._apply_clauses(
            target, src, schema, schema_cols, n_buckets, bucket_expr, khash_expr,
            defaults=lake.column_defaults(meta),
        )

        # write partition count: inserts can land in ANY bucket (their
        # bucket set is unknown without a job), so size to the table's
        # bucket count — the same parallelism a full-bucket write uses
        new_files = lake._write_buckets(out, meta, max(meta["n_buckets"], 1))
        counts = {k: int(v or 0) for k, v in obs.get.items()}

        rewritten = [e for es in read.values() for e in es]
        tombs = sum(1 for e in rewritten if e.get("kind") == "tomb")
        entry = {
            "mutation": "merge_into",
            "clauses": [
                {"branch": b, "kind": k, "conditional": c is not None}
                for b, k, c, _ in self._clauses
            ],
            "rows_updated": sum(
                counts[n] for n, (b, k) in action_names.items() if k == "update"
            ),
            "rows_deleted": sum(
                counts[n] for n, (b, k) in action_names.items() if k == "delete"
            ),
            "rows_inserted": sum(
                counts[n] for n, (b, k) in action_names.items() if k == "insert"
            ),
            "files_rewritten": len(rewritten) - tombs,
            # dirty-bucket tombstone files consumed by the in-flight
            # resolution — separate so rewrite-amplification audits see the
            # full file count without changing files_rewritten's meaning
            # (data files only, consistent with merge/mutate lineage)
            "tomb_files_resolved": tombs,
        }
        if batch_id is not None:
            entry["batch_id"] = batch_id
        # manifests change for: buckets whose files were rewritten/resolved
        # (``read`` — carried entries kept, rewritten ones replaced) and
        # buckets that only gained an insert file (existing entries kept,
        # new file appended — khash-sound pruning guarantees the inserted
        # keys live in no existing file, so the bucket stays single-version)
        write_touched = sorted(set(read) | set(new_files))
        carried = {b: (carry.get(b, []) if b in read else files.get(b, [])) for b in write_touched}
        # rebase validation must cover the full PROBE set, not just the
        # buckets we wrote: a source key that matched nothing at read time
        # touches no file, but a concurrent insert of that key means this
        # MERGE serializes after it without having seen it (lost
        # when_matched update / duplicate insert).  The probe set is every
        # bucket a source key hashes into — computed lazily (one distinct
        # job over the already-stamped source) only on the RARE rebase
        # path, keeping the no-conflict commit at zero extra jobs (the
        # round-4 ask that removed the unconditional distinct-buckets job).
        # A by-source MERGE probes every bucket, including ones created
        # concurrently, so its probe set is the whole layout.
        probe_cache: Dict[str, List[int]] = {}

        def read_set() -> List[int]:
            if "b" not in probe_cache:
                if scans_by_source:
                    probe_cache["b"] = list(range(n_buckets))
                else:
                    rows = src.select(BUCKET_COL).distinct().collect()
                    probe_cache["b"] = [int(r[0]) for r in rows]
            return sorted(set(write_touched) | set(probe_cache["b"]))

        return lake._commit_buckets(
            meta, entry, write_touched, new_files, read_set=read_set,
            carry=carried, batch_id=batch_id,
        )

    # -- clause compilation ------------------------------------------------

    def _validate_set_columns(self, schema_cols: List[str]) -> None:
        names = set(schema_cols)
        for branch, kind, _, values in self._clauses:
            if kind == "update":
                for c in values:
                    if c in KEY_COLS:
                        raise ValueError(
                            f"cannot SET key column {c!r}: a key change is a "
                            "delete+insert (declare both clauses)"
                        )
                    if c not in names:
                        raise KeyError(
                            f"SET column {c!r} not in table schema {sorted(names)}"
                        )
            elif kind == "insert":
                for c in values:
                    if c not in names:
                        raise KeyError(
                            f"INSERT column {c!r} not in table schema {sorted(names)}"
                        )

    def _apply_clauses(
        self,
        target: DataFrame,
        src: DataFrame,
        schema: T.StructType,
        schema_cols: List[str],
        n_buckets: int,
        bucket_expr,
        khash_expr,
        defaults: Optional[Dict[str, object]] = None,
    ):
        """Compile the clause cascade into one joined projection.  Returns
        (output rows of the rewritten buckets, Observation with per-action
        counts, action_name -> (branch, kind))."""
        from .lake import BUCKET_COL, KHASH_COL

        from functools import reduce

        src_cols = set(src.columns)
        t = target.withColumn("_t_ex", F.lit(1)).alias("t")
        s = src.withColumn("_s_ex", F.lit(1)).alias("s")
        on = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in KEY_COLS],
        )
        joined = t.join(s, on, "full_outer")

        matched = F.col("t._t_ex").isNotNull() & F.col("s._s_ex").isNotNull()
        only_t = F.col("t._t_ex").isNotNull() & F.col("s._s_ex").isNull()
        only_s = F.col("t._t_ex").isNull()

        # first-true-clause-wins cascade, per branch, in declaration order.
        # Everything — user conditions (over the t./s. aliases), the action
        # tag, and every output column's value cascade — compiles into ONE
        # select on the qualified join, so alias resolution never has to
        # survive an intermediate projection.  `fires[i]` predicates repeat
        # across the column cascades; Catalyst's common-subexpression
        # elimination folds them in codegen.
        branch_pred = {"matched": matched, "by_source": only_t, "not_matched": only_s}
        action = None
        fires: List[Column] = []
        action_names: Dict[str, Tuple[str, str]] = {}
        taken = {
            "matched": F.lit(False),
            "by_source": F.lit(False),
            "not_matched": F.lit(False),
        }
        for i, (branch, kind, cond, _) in enumerate(self._clauses):
            name = f"a{i}"
            action_names[name] = (branch, kind)
            c = F.coalesce(cond, F.lit(False)) if cond is not None else F.lit(True)
            fire = branch_pred[branch] & ~taken[branch] & c
            taken[branch] = taken[branch] | fire
            fires.append(fire)
            action = (action if action is not None else F).when(fire, F.lit(name))
        # defaults: matched / by-source keep the row; not-matched drops it
        action = action.otherwise(F.when(only_s, F.lit("drop")).otherwise(F.lit("keep")))

        def s_or_null(c: str) -> Column:
            # ANSI INSERT semantics: an unspecified column takes the source
            # value when present, else the table's column DEFAULT
            # (evolve_schema(defaults=...)), else NULL
            f = schema[c]
            return (
                F.col(f"s.{c}").cast(f.dataType)
                if c in src_cols
                else F.lit((defaults or {}).get(c)).cast(f.dataType)
            )

        proj = []
        for c in schema_cols:
            dtype = schema[c].dataType
            expr = None
            for i, (branch, kind, _, values) in enumerate(self._clauses):
                if kind == "update" and c in values:
                    v = _as_col(values[c], dtype)
                elif kind == "insert":
                    if c in KEY_COLS:
                        v = F.col(f"s.{c}")
                    elif c in values:
                        v = _as_col(values[c], dtype)
                    else:
                        v = s_or_null(c)
                else:
                    continue
                expr = (expr if expr is not None else F).when(fires[i], v)
            base = F.col(f"t.{c}")
            proj.append((expr.otherwise(base) if expr is not None else base).alias(c))

        flat = joined.select(action.alias("_action"), *proj)

        deletes = [
            f"a{i}" for i, (_, kind, _, _) in enumerate(self._clauses) if kind == "delete"
        ]
        keep_pred = (
            ~F.col("_action").isin(*deletes, "drop")
            if deletes
            else (F.col("_action") != "drop")
        )
        obs = Observation("merge_into")
        observed = flat.observe(
            obs,
            *[
                F.sum(F.when(F.col("_action") == n, 1).otherwise(0)).alias(n)
                for n in action_names
            ],
        )
        out = (
            observed.where(keep_pred)
            .drop("_action")
            .withColumn(BUCKET_COL, bucket_expr(n_buckets))
            .withColumn(KHASH_COL, khash_expr())
        )
        return out, obs, action_names
