"""Multi-table WAL routing — one binlog tail, many lake tables.

A real binlog/WAL carries changes for MANY tables interleaved in one
totally-ordered stream (MySQL's binlog, Postgres' WAL).  Maxwell publishes
that stream as-is: every envelope carries ``database``/``table`` fields and
consumers demultiplex.  Debezium usually demultiplexes UPSTREAM — one
Kafka topic per table, where the router is the topic subscription — but
its single-stream shapes (Debezium Server to one sink, merged topics)
route in-band by ``source.table``; both wire formats are covered
(:func:`decode_maxwell_routed`, :func:`decode_debezium_routed`).

This module routes one raw envelope stream to N per-table canonical change
streams and applies each to its own :class:`~valentine_spark.cdc.lake.LakeTable`
with per-table exactly-once:

* :func:`decode_maxwell_routed` — one cheap "shell" parse classifies every
  record (unparseable / missing_table / unknown_table / routed); each routed
  slice is then fully decoded with its OWN payload schema via
  :func:`~valentine_spark.cdc.wal.decode_maxwell`, so heterogeneous payloads
  coexist in one stream.  Dead letters from every level are unioned with a
  ``table`` tag.
* :func:`apply_routed` — applies each table's slice with batch id
  ``{batch_id}/{table}``: per-table idempotence rides the lake's own commit
  manifest, so a crash between table applies resumes exactly where it
  stopped (already-applied tables skip, the rest apply) with no coordination
  beyond the per-table manifests.

Key contract: every routed table shares the engine's canonical key triple
(``KEY_COLS`` = repo, path, commit) — the lake's bucket layout is keyed on
it structurally (``cdc/lake.py::khash_expr``).  Payload columns are free per
table (including nested types).

Reference semantics grounding: the reference (delftdata/valentine) has no
streaming surface; multi-table demux is new construction required by the
CDC north star ("tails a binlog/WAL-style change stream" — real WAL tails
are multi-table).  Envelope shape follows Maxwell's published wire format.

Scale notes (100 TB / 10^10 events):
  * each source row is parsed at most twice — once by the shell parse
    (pruned to ``table`` + corrupt flag; Catalyst's JSON schema pruning
    keeps this narrow) and once by its table's full decode.  Unknown /
    corrupt rows are parsed once.  All decode work is JVM ``from_json`` +
    projections, zero Python, zero shuffles;
  * the per-table applies are independent jobs over disjoint row sets —
    ``parallelism > 1`` submits them from a thread pool so Spark's
    scheduler interleaves N applies' stages across the cluster (per-table
    skew no longer serializes the batch: a small table's apply finishes
    and frees its slots while the monorepo table is still merging);
  * with very many tables (10^3+), shell-routing cost stays one pass, but
    T tiny applies pay T commit floors — batch small tables less often
    (their LSN watermarks make unapplied slices recoverable) or group them
    behind fewer lakes;
  * a caller materializing every table's slice should ``.persist()`` the
    raw frame first (same guidance as ``cdc/wal.py``); each slice alone is
    one pass.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Dict, NamedTuple, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .apply import _occupied_slices, apply_batch
from .lake import LakeTable
from .wal import CORRUPT_COL, DecodedStream, decode_debezium, decode_maxwell


class RoutedStream(NamedTuple):
    """Result of a routed decode: one canonical change stream per table
    plus the unified dead-letter frame (table, raw, reason) — ``table`` is
    the envelope's claim (NULL when the shell never parsed), ``reason`` the
    deterministic first-match quarantine class."""

    streams: Dict[str, DataFrame]
    dead_letters: DataFrame


#: Shell schema: just enough of the Maxwell envelope to route — the table
#: name and the parser's corrupt flag.  Catalyst prunes from_json to these.
_SHELL = StructType(
    [
        StructField("table", StringType()),
        StructField(CORRUPT_COL, StringType()),
    ]
)

#: Debezium shell: the table name lives in the source block.
_SHELL_DBZ = StructType(
    [
        StructField("source", StructType([StructField("table", StringType())])),
        StructField(CORRUPT_COL, StringType()),
    ]
)

_DEAD_SCHEMA = "table string, raw string, reason string"


def decode_maxwell_routed(
    raw: DataFrame,
    schemas: Dict[str, StructType],
    json_col: str = "value",
) -> RoutedStream:
    """Demultiplex a multi-table Maxwell envelope stream.

    ``schemas`` maps table name -> payload schema (each may differ; all must
    contain the canonical key columns).  Routing cascade, first match:
    ``unparseable`` (shell-level corrupt / null input) -> ``missing_table``
    -> ``unknown_table`` -> routed to the table's own
    :func:`~valentine_spark.cdc.wal.decode_maxwell`, whose per-record
    quarantine (missing op / lsn / ts / image / key) then applies with the
    table tag attached.
    """
    return _decode_routed(raw, schemas, json_col, _SHELL, lambda s: s["table"], decode_maxwell)


def decode_debezium_routed(
    raw: DataFrame,
    schemas: Dict[str, StructType],
    json_col: str = "value",
) -> RoutedStream:
    """Demultiplex a multi-table Debezium envelope stream by
    ``source.table``.  Debezium's usual deployment demuxes upstream (one
    Kafka topic per table) — this covers the single-stream shapes (Debezium
    Server to one sink, a merged multi-table topic) where routing is
    in-band.  Same cascade and per-table quarantine as the Maxwell router,
    with each slice decoded by
    :func:`~valentine_spark.cdc.wal.decode_debezium`."""
    return _decode_routed(
        raw, schemas, json_col, _SHELL_DBZ, lambda s: s["source"]["table"], decode_debezium
    )


def _decode_routed(
    raw: DataFrame,
    schemas: Dict[str, StructType],
    json_col: str,
    shell_schema: StructType,
    table_of,
    decode_one,
) -> RoutedStream:
    if not schemas:
        raise ValueError("routed decode: schemas must name at least one table")
    shell = raw.withColumn(
        "_shell",
        F.from_json(
            F.col(json_col), shell_schema, {"columnNameOfCorruptRecord": CORRUPT_COL}
        ),
    )
    s = F.col("_shell")
    tbl = table_of(s)
    unparseable = s.isNull() | s[CORRUPT_COL].isNotNull()
    reason = (
        F.when(unparseable, F.lit("unparseable"))
        .when(tbl.isNull(), F.lit("missing_table"))
        .when(~tbl.isin(*schemas), F.lit("unknown_table"))
    )
    tagged = shell.select(
        F.col(json_col), tbl.alias("_tbl"), reason.alias("_reason")
    )
    shell_dead = tagged.where(F.col("_reason").isNotNull()).select(
        F.col("_tbl").alias("table"),
        F.col(json_col).alias("raw"),
        F.col("_reason").alias("reason"),
    )
    streams: Dict[str, DataFrame] = {}
    dead = shell_dead
    for name in sorted(schemas):
        slice_raw = tagged.where(
            F.col("_reason").isNull() & (F.col("_tbl") == name)
        ).select(json_col)
        decoded: DecodedStream = decode_one(slice_raw, schemas[name], json_col=json_col)
        streams[name] = decoded.stream
        dead = dead.unionByName(
            decoded.dead_letters.select(
                F.lit(name).alias("table"), "raw", "reason"
            )
        )
    return RoutedStream(streams, dead)


def shell_table_counts(
    raw: DataFrame,
    schemas: Dict[str, StructType],
    json_col: str = "value",
    dialect: str = "maxwell",
) -> Dict[str, int]:
    """ONE schema-pruned shell-parse pass over a raw envelope frame ->
    ``{table: claimed-row count}`` for the tables named in ``schemas``.

    This is the cheap per-micro-batch occupancy probe the streaming router
    uses for ``skip_empty``: Catalyst prunes ``from_json`` to the table
    field alone, so the pass reads no payloads.  Counts are an UPPER bound
    on healthy rows (a row counted here may still quarantine at its
    table's full decode — missing key, bad op, ...), which is the safe
    direction: a table is only skipped when it provably has zero rows.

    ``dialect``: "maxwell" (top-level ``table`` field) or "debezium"
    (``source.table``)."""
    if dialect == "maxwell":
        shell, table_of = _SHELL, (lambda s: s["table"])
    elif dialect == "debezium":
        shell, table_of = _SHELL_DBZ, (lambda s: s["source"]["table"])
    else:
        raise ValueError(f"shell_table_counts: unknown dialect {dialect!r}")
    s = F.from_json(F.col(json_col), shell)
    tbl = table_of(s)
    rows = (
        raw.select(tbl.alias("_tbl"))
        .where(F.col("_tbl").isin(*schemas))
        .groupBy("_tbl")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    counts = {name: 0 for name in schemas}
    counts.update({r["_tbl"]: int(r["_n"]) for r in rows})
    return counts


def apply_routed(
    tables: Dict[str, LakeTable],
    streams: Dict[str, DataFrame],
    batch_id: str,
    *,
    modes: Optional[Dict[str, str]] = None,
    parallelism: int = 1,
    **apply_kw,
) -> Dict[str, dict]:
    """Apply one multi-table batch, each table exactly-once.

    Every table named in ``streams`` must have a lake in ``tables``; tables
    with no events this batch are simply absent from ``streams`` and stay
    untouched.  Each table commits under batch id ``{batch_id}/{table}``,
    so re-running the whole routed batch after a crash is idempotent
    per-table: already-committed tables return ``{"skipped": True}``, the
    rest apply.  ``modes`` optionally overrides the merge write mode per
    table ("cow"/"mor"); remaining keyword arguments pass through to
    :func:`~valentine_spark.cdc.apply.apply_batch` for all tables.

    ``parallelism > 1`` runs the per-table applies from a thread pool —
    safe because each apply touches only its own table root, and Spark's
    scheduler interleaves the submitted jobs.  Results are keyed by table
    and identical to the sequential order (table order never affects any
    single table's commit).
    """
    missing = sorted(set(streams) - set(tables))
    if missing:
        raise KeyError(
            f"apply_routed: no lake registered for routed table(s) {missing}; "
            f"known tables: {sorted(tables)}"
        )
    modes = modes or {}

    def _one(name: str) -> dict:
        return apply_batch(
            tables[name],
            streams[name],
            f"{batch_id}/{name}",
            mode=modes.get(name),
            **apply_kw,
        )

    names = sorted(streams)
    if parallelism <= 1 or len(names) <= 1:
        return {name: _one(name) for name in names}
    with ThreadPoolExecutor(max_workers=min(parallelism, len(names))) as pool:
        futs = {name: pool.submit(_one, name) for name in names}
        return {name: fut.result() for name, fut in futs.items()}


def replay_routed(
    tables: Dict[str, LakeTable],
    raw: DataFrame,
    schemas: Dict[str, StructType],
    batch_lsns: int = 1_000_000,
    batch_id_prefix: str = "wal",
    json_col: str = "value",
    parallelism: int = 1,
    decoder=None,
    skip_empty: bool = True,
    return_routed: bool = False,
    **apply_kw,
) -> list:
    """Bulk-replay a multi-table raw envelope stream in LSN slices.

    Decodes once (``decoder`` — :func:`decode_maxwell_routed` by default,
    pass :func:`decode_debezium_routed` for Debezium-shaped single
    streams), then applies successive
    global-LSN ranges with :func:`apply_routed` — the multi-table analogue
    of :func:`~valentine_spark.cdc.apply.replay`.  Returns
    ``[{table: commit_result, ...}, ...]`` per slice; fully resumable
    (slice x table batch ids repeat).

    Cross-slice precedence is APPLICATION order (slices commit in LSN
    order; a later slice's MERGE overwrites), so convergence to the global
    per-key (op_ts, lsn) LWW image relies on the binlog invariant every
    replay in this engine assumes: op_ts non-decreasing in LSN.  A stream
    violating it (commit timestamps jumping backwards across slice
    boundaries) converges to LSN order, not timestamp order — the
    router fuzz (tests/test_router_fuzz.py) pins this contract.

    Each table's DECODED canonical stream is persisted for the duration of
    the replay (MEMORY_AND_DISK, so an oversized stream spills to executor
    disk instead of failing): the per-slice LSN filter cannot push below
    ``from_json``, so without the cache every slice would re-read and
    re-parse the table's whole raw slice — an S-slice replay would pay
    ~S+1 full parse passes (plus ~2 internal scans per apply).  With it,
    the parse runs once per table (the occupied-slice job materializes the
    cache) and all slice scans are cache hits.

    Only OCCUPIED slices are walked: one small per-table aggregation
    (``floor(lsn / batch_lsns)`` -> per-slice max) replaces the old min/max
    bounds job, and the loop iterates exactly the union of occupied slice
    keys.  Maxwell LSNs are file-packed (``fileno * 2**40 + offset``,
    cdc/wal.py::maxwell_position_lsn), so a stream spanning two binlog
    files has a ~2**40-wide hole between them — the old dense walk from
    the stream floor iterated ~2**40/batch_lsns (~10^6) empty ranges per
    rollover, each paying per-table Spark jobs plus an empty commit.

    ``skip_empty`` (default on): a table with no events in an occupied
    slice is left out of that slice's :func:`apply_routed` call entirely —
    no empty commit, no per-table jobs (membership falls out of the same
    occupied-slice aggregation, so it costs nothing extra).  Consequence:
    that table's watermark does not advance through the slice, so a later
    :func:`~valentine_spark.cdc.apply.resume_replay` re-scans from its
    older watermark — correct (the skipped range held none of its events),
    just a wider re-read window.  Set False to restore a commit per table
    per slice (every table's watermark tracks the global LSN frontier).

    ``return_routed=True`` returns ``(commits, RoutedStream)`` so a caller
    that also wants the dead letters (jobs/route_job.py) reuses this
    decode's plan instead of re-running the router over the raw stream.
    """
    from pyspark import StorageLevel

    if batch_lsns <= 0:
        raise ValueError(
            f"replay_routed: batch_lsns must be positive, got {batch_lsns}"
        )
    routed = (decoder or decode_maxwell_routed)(raw, schemas, json_col=json_col)
    streams = {
        name: df.persist(StorageLevel.MEMORY_AND_DISK)
        for name, df in routed.streams.items()
    }
    try:
        # one driver-sized agg per table: occupied slice key -> max lsn
        # (rows = occupied slices, never events); also materializes the
        # cache.  Union of keys drives the walk; per-table membership
        # drives skip_empty.
        per_table = {
            name: _occupied_slices(df, batch_lsns) for name, df in streams.items()
        }
        keys = sorted(set().union(*per_table.values())) if per_table else []
        if not keys:
            return ([], routed) if return_routed else []
        max_lsn = max(mx for d in per_table.values() for mx in d.values())
        out = []
        for k in keys:
            lo, hi = k * batch_lsns, (k + 1) * batch_lsns
            members = (
                [n for n in sorted(streams) if k in per_table[n]]
                if skip_empty
                else sorted(streams)
            )
            sliced = {
                name: streams[name].where(
                    (F.col("lsn") >= lo) & (F.col("lsn") < hi)
                )
                for name in members
            }
            out.append(
                apply_routed(
                    tables,
                    sliced,
                    f"{batch_id_prefix}-{lo}-{hi}",
                    parallelism=parallelism,
                    watermark_lsn=min(hi - 1, max_lsn),
                    **apply_kw,
                )
            )
        return (out, routed) if return_routed else out
    finally:
        for df in streams.values():
            df.unpersist()
