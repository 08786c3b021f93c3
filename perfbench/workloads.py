"""The benchmark's workloads.  Each drives only the public API of
``valentine_spark.cdc`` and makes all of its inputs with ``cdc.generator``
from the run's seed.

tail_mor_mirror
    Open loop.  A bootstrapped merge-on-read table receives one small slice
    of change events every ``period_s`` seconds (hot-repo skew and 5%
    deletes, the generator's defaults).  After each slice the loop runs
    ``apply_batch(mode="mor")``, ``compact_if_needed()``, then
    ``ChangelogFollower.poll`` -> ``apply_delivery`` into a copy-on-write
    mirror -> ``commit``.  Dominated by the per-commit floor: commit IO and
    metadata, the MoR write, compaction spikes, the follower and MoR reads.
    No decode, no drift, little LWW shuffle.

routed_drift_mor
    Closed loop.  Maxwell JSON envelopes for two tables with different
    payload schemas (plus a fixed share of unknown-table and truncated
    envelopes) are replayed slice by slice with ``replay_routed``
    (parallelism 1) into two MoR tables.  From the middle of the timed
    phase on, the ``files`` payload arrives renamed (``lang`` -> ``language``,
    ``content`` -> ``body``) and is decoded under the new registry schema,
    so every later slice runs ``resolve_drift`` and the Valentine matcher
    cascade.  The only workload that reaches ``cdc.wal``, ``cdc.router``,
    ``cdc.drift`` and the matchers.

The amount of work is a function of the seed and ``--seconds`` only (slice
count = seconds / nominal period), never of how fast the host is, so two
runs of one seed do identical work.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from valentine_spark import cdc

SEP = "\x1f"

# Sizes.  On 4 cores the per-commit floor dominates: a MoR apply costs about
# 1 s whatever the slice size, a whole tail cycle 5-8 s (up to 10 s on a
# contended host), a routed slice 4 s before the drift and 20-28 s after it
# (the matcher cascade runs ~55 small Spark jobs).  The tail's period keeps
# the open loop under that capacity; ``nominal_slice_s`` sizes the closed
# loop to about ``seconds`` of work.
TAIL = {
    "keys": 2000, "buckets": 4, "slice_events": 500, "period_s": 9.0,
    # a MoR slice adds a data and a tombstone file per bucket, so a bucket
    # reaches 6 files on the second timed slice: one compaction per run, at
    # the same slice every run.  A slice carries 25 deletes, so a bucket
    # goes a slice without a tombstone file (and compacts a slice later) in
    # about 1% of runs; with 10 deletes it was every second run
    "compact_files": 6,
    "warmup_slices": 1, "reads": 3, "lookups": 3, "lookup_keys": 16,
}
ROUTED = {
    "keys": 2000, "buckets": 4, "slice_events": 1000, "nominal_slice_s": 24.0,
    "warmup_slices": 1, "reads": 3, "lookups": 3, "lookup_keys": 16,
    # per mille of envelopes turned into dead letters of each kind
    "unknown_permille": 10, "truncated_permille": 10,
}

FILES_V1 = T.StructType([T.StructField(c, T.StringType()) for c in ("repo", "path", "commit", "lang", "content")])
FILES_V2 = T.StructType([T.StructField(c, T.StringType()) for c in ("repo", "path", "commit", "language", "body")])
REPOS = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("repo", "path", "commit")]
    + [T.StructField("stars", T.IntegerType()), T.StructField("license", T.StringType())]
)
DRIFT_EXPECTED = {"language": "lang", "body": "content"}
LICENSES = ["mit", "apache-2.0", "gpl-3.0", "bsd-3-clause", "mpl-2.0"]


class Ctx:
    """State of one run shared by the workload code and ``run.py``."""

    def __init__(self, spark: SparkSession, run_dir: str, seed: int, seconds: float,
                 tracer=None, scale: float = 1.0):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.samples: Dict[str, List[float]] = {}
        self.metrics: Dict[str, float] = {}  # end-to-end values other than samples
        self.layer: Dict[str, float] = {}  # per-layer values computed by the workload
        self.timed_start = 0.0  # perf_counter at the start of the timed phase
        self.timed_start_wall = 0.0  # the same instant, wall clock
        self.timed_end = 0.0
        self.layer_hooks = None  # (install, uninstall) of the traced run's wrappers
        self.phases: List[tuple] = []  # (phase name, wall clock at its end)

    def mark(self, phase: str) -> None:
        self.phases.append((phase, time.time()))

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """One correctness operation: counted as attempted, and as failed
        when it does not hold."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}")

    def begin_timed(self) -> float:
        if self.layer_hooks:
            self.layer_hooks[0]()
        self.group("bench.timed")
        self.timed_start_wall = time.time()
        self.timed_start = time.perf_counter()
        return self.timed_start

    def end_timed(self) -> None:
        self.timed_end = time.perf_counter()
        if self.layer_hooks:
            self.layer_hooks[1]()
        self.group("bench.post")

    def wait(self, seconds: float) -> None:
        if self.tracer is not None:
            self.tracer.call("bench.wait", time.sleep, seconds)
        else:
            time.sleep(seconds)

    def group(self, name: Optional[str]) -> None:
        if self.tracer is not None:
            self.tracer.set_group(name)

    def sized(self, n: int) -> int:
        return max(1, int(round(n * self.scale)))


# -- shared helpers ----------------------------------------------------------


def stage(ctx: Ctx, df: DataFrame, name: str) -> DataFrame:
    """Write ``df`` to parquet inside the run directory and read it back, so
    the timed phase reads staged files, not generator expressions.  Inputs
    used only in setup and by the oracle stay generator expressions."""
    path = ctx.path(f"input/{name}")
    df.write.parquet(path)
    return ctx.spark.read.parquet(path)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def lww_oracle(spark: SparkSession, name: str, base: DataFrame, events: DataFrame,
               payload: List[str]) -> DataFrame:
    """Plain Spark-SQL last-writer-wins over base plus stream: base rows
    enter at lsn 0, the latest event per (repo, path, commit) by
    (op_ts, lsn) wins, deletes drop the key.  Independent of the engine's
    max_by reduction."""
    cols = ", ".join(["repo", "path", "commit", *payload])
    base.createOrReplaceTempView(f"{name}_base")
    events.createOrReplaceTempView(f"{name}_events")
    return spark.sql(
        f"""
        WITH ev AS (
          SELECT 0L AS lsn, TIMESTAMP '1970-01-01 00:00:00' AS op_ts, 'insert' AS op, {cols}
          FROM {name}_base
          UNION ALL
          SELECT lsn, op_ts, op, {cols} FROM {name}_events
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY repo, path, commit ORDER BY op_ts DESC, lsn DESC) AS rn
          FROM ev
        )
        SELECT {cols} FROM ranked WHERE rn = 1 AND op != 'delete'
        """
    )


def oracle_summary(live: DataFrame, hashed: List[str], n_buckets: int) -> dict:
    """Row count and checksum in ``LakeTable.state_checksum``'s definition,
    plus the logical bytes of the live rows (for space amplification).

    ``state_checksum`` hashes ``content`` when the table has it, else every
    non-key column of ``read()`` -- which includes the engine's internal
    ``_bucket`` column; ``hashed`` names ``_bucket`` for such tables and it
    is derived here with the public ``bucket_expr``."""
    width = sum(
        (F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0)) for c in live.columns),
        F.lit(0),
    )
    live = live.withColumn("_bucket", cdc.bucket_expr(n_buckets))
    payload = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in hashed]
    row_hash = F.sha2(F.concat_ws(SEP, F.col("repo"), F.col("path"), F.col("commit"), *payload), 256)
    r = live.select(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.conv(F.substring(row_hash, 1, 15), 16, 10).cast("decimal(38,0)")).alias("checksum"),
        F.sum(width).alias("bytes"),
    ).collect()[0]
    return {"rows": int(r["rows"]), "checksum": int(r["checksum"] or 0), "bytes": int(r["bytes"] or 0)}


def key_batches(ctx: Ctx, keys: List[tuple], n: int, size: int) -> List[List[tuple]]:
    rng = random.Random(ctx.seed * 7919 + 17)
    return [rng.sample(keys, min(size, len(keys))) for _ in range(n)]


def read_and_lookup(ctx: Ctx, tables: Dict[str, "cdc.LakeTable"], oracles: Dict[str, DataFrame],
                    hashed: Dict[str, List[str]], keys: List[tuple], conf: dict, timed: str) -> None:
    """After ingest: every table's ``state_checksum`` once against the
    oracle (untimed; it also warms the scan path), then on table ``timed``
    repeated full-state scans with checksum (``read_s``) and point lookups of
    seeded key batches (``lookup_s``), each checked against the oracle; last,
    space amplification over all tables."""
    ctx.group("bench.oracle")
    summaries = {
        name: oracle_summary(oracles[name], hashed[name], conf["buckets"]) for name in tables
    }
    expected = {
        (r["repo"], r["path"], r["commit"]): tuple(r) for r in oracles[timed].collect()
    }

    def checksum(name: str) -> None:
        cs, want = tables[name].state_checksum(), summaries[name]
        ctx.check(
            f"state_checksum[{name}]",
            cs["rows"] == want["rows"] and cs["checksum"] == want["checksum"],
            f"lake {cs} != oracle rows={want['rows']} checksum={want['checksum']}",
        )

    for name in tables:
        checksum(name)
    ctx.mark("oracle")
    ctx.group("bench.read")
    for _ in range(conf["reads"]):
        t = time.perf_counter()
        checksum(timed)
        ctx.sample("read_s", time.perf_counter() - t)

    ctx.mark("read")
    ctx.group("bench.lookup")
    for batch in key_batches(ctx, keys, conf["lookups"], conf["lookup_keys"]):
        t = time.perf_counter()
        rows = tables[timed].lookup(batch).collect()
        ctx.sample("lookup_s", time.perf_counter() - t)
        got = {(r["repo"], r["path"], r["commit"]): tuple(r) for r in rows}
        want = {k: expected[k] for k in batch if k in expected}
        ctx.check(f"lookup[{timed}]", got == want, f"{len(got)} rows vs {len(want)} expected")

    ctx.mark("lookup")
    on_disk = sum(dir_bytes(lake.root) for lake in tables.values())
    live = sum(s["bytes"] for s in summaries.values())
    ctx.metrics["space_amp"] = on_disk / live
    ctx.layer["cdc.lake.bytes_on_disk"] = on_disk
    ctx.group(None)


def base_keys(df: DataFrame) -> List[tuple]:
    return [tuple(r) for r in df.select("repo", "path", "commit").collect()]


# -- tail_mor_mirror ---------------------------------------------------------


def tail_mor_mirror(ctx: Ctx) -> None:
    conf = TAIL
    spark, seed = ctx.spark, ctx.seed
    n_keys, per_slice = ctx.sized(conf["keys"]), ctx.sized(conf["slice_events"])
    period = conf["period_s"]
    n_timed = max(1, int(round(ctx.seconds / period)))
    n_slices = conf["warmup_slices"] + n_timed

    base = cdc.synth_base_table(spark, n_keys, seed=seed)
    stream = stage(
        ctx, cdc.synth_change_stream(spark, n_slices * per_slice, n_keys, seed=seed, start_lsn=1), "stream"
    )
    keys = base_keys(base)
    ctx.mark("inputs")

    src = cdc.LakeTable.create(ctx.path("lake/source"), spark, n_buckets=conf["buckets"], write_mode="mor")
    mirror = cdc.LakeTable.create(ctx.path("lake/mirror"), spark, n_buckets=conf["buckets"], write_mode="cow")
    cdc.bootstrap_snapshot(src, base, 0, mode="cow")
    cdc.bootstrap_snapshot(mirror, base, 0)
    follower = cdc.ChangelogFollower(src, ctx.path("lake/follower"), consumer_id="mirror", start="latest")
    ctx.mark("bootstrap")

    deliveries: List[tuple] = []

    def one_slice(i: int) -> float:
        lo, hi = 1 + i * per_slice, 1 + (i + 1) * per_slice
        batch = stream.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        t = time.perf_counter()
        cdc.apply_batch(src, batch, f"tail-{i}", mode="mor", watermark_lsn=hi - 1)
        commit_s = time.perf_counter() - t
        ctx.attempted += 1
        src.compact_if_needed(max_files_per_bucket=conf["compact_files"])
        if ctx.tracer is not None and ctx.timed_start:
            ctx.sample("version_lag", src.version - follower.position)
        delivery = follower.poll()
        ctx.check("delivery", delivery is not None, f"slice {i}: follower saw no new version")
        if delivery is not None:
            cdc.apply_delivery(mirror, delivery)
            follower.commit(delivery)
            deliveries.append((delivery.from_version, delivery.to_version))
        return commit_s

    for i in range(conf["warmup_slices"]):
        one_slice(i)
    ctx.mark("warmup")

    # open loop: timed slice j closes at t0 + j * period, whether or not
    # the previous cycle has finished
    t0 = ctx.begin_timed()
    busy = 0.0
    lags = []
    for j in range(n_timed):
        due = t0 + j * period
        now = time.perf_counter()
        if now < due:
            ctx.wait(due - now)
        start = time.perf_counter()
        ctx.sample("commit_s", one_slice(conf["warmup_slices"] + j))
        end = time.perf_counter()
        busy += end - start
        lags.append(end - due)
        ctx.sample("step_s", end - start)
    ctx.end_timed()
    ctx.mark("timed")
    for lag in lags:
        ctx.sample("freshness_lag_s", lag)
    ctx.metrics["ingest_events_per_s"] = n_timed * per_slice / busy

    # the backlog must not grow: the last decile's lag stays within one
    # period of the first decile's
    k = max(1, n_timed // 10)
    growth = statistics.mean(lags[-k:]) - statistics.mean(lags[:k])
    ctx.check("backlog", growth < period, f"lag grew by {growth:.2f}s over the tail (period {period}s)")

    oracle = lww_oracle(spark, "source", base, stream, ["lang", "content"])
    read_and_lookup(ctx, {"source": src}, {"source": oracle}, {"source": ["content"]}, keys, conf, "source")
    ctx.group("bench.oracle")
    src_cs, mir_cs = src.state_checksum(), mirror.state_checksum()
    ctx.check("mirror==source", src_cs == mir_cs, f"mirror {mir_cs} != source {src_cs}")

    if ctx.tracer is not None:
        ctx.group("bench.trace")
        ctx.layer["cdc.lake.files_live"] = src.files().count()
        ctx.layer["cdc.follow.rows_delivered"] = sum(
            src.changes(a, b).count() for a, b in deliveries[conf["warmup_slices"]:]
        )
    ctx.group(None)


# -- routed_drift_mor --------------------------------------------------------


def _maxwell(table: F.Column, data: F.Column) -> F.Column:
    return F.to_json(
        F.struct(
            F.lit("app").alias("database"),
            table.alias("table"),
            F.col("op").alias("type"),
            F.unix_timestamp(F.col("op_ts")).alias("ts"),
            F.expr("lsn div 100").alias("xid"),
            F.concat(F.lit("mysql-bin.000001:"), F.col("lsn").cast("string")).alias("position"),
            data.alias("data"),
        )
    )


def routed_inputs(ctx: Ctx, n_keys: int, n_events: int, per_slice: int, drift_at: int, conf: dict):
    """Inputs of routed_drift_mor: both tables' bootstrap snapshots, the
    staged raw envelope stream (slice index ``k``, ``value``, and the
    ``dead`` class it was built as), and the plain per-table change streams
    the oracle replays (generator expressions, recomputed on use)."""
    spark, seed = ctx.spark, ctx.seed

    def with_repo_cols(df: DataFrame) -> DataFrame:
        # the repos table's payload, derived from the generated content
        live = F.col("content").isNotNull()
        h = F.xxhash64(F.lit(seed), F.col("content"))
        lic = F.element_at(F.array(*[F.lit(x) for x in LICENSES]), (F.pmod(h, F.lit(len(LICENSES))) + 1).cast("int"))
        return df.withColumn("stars", F.when(live, F.pmod(h, F.lit(5000)).cast("int"))).withColumn(
            "license", F.when(live, lic)
        )

    base = cdc.synth_base_table(spark, n_keys, seed=seed)
    bases = {"files": base, "repos": with_repo_cols(base).select(*REPOS.names)}
    lsn = F.col("lsn")
    roll = F.pmod(F.xxhash64(F.lit(seed ^ 0xD1F7), lsn), F.lit(1000))
    ev = with_repo_cols(cdc.synth_change_stream(spark, n_events, n_keys, seed=seed, start_lsn=1)).select(
        "*",
        ((lsn - 1) / per_slice).cast("int").alias("k"),
        F.when(F.pmod(F.xxhash64(F.lit(seed ^ 0x7AB), lsn), F.lit(10)) < 7, F.lit("files"))
        .otherwise(F.lit("repos")).alias("table"),
        F.when(roll < conf["unknown_permille"], F.lit("unknown_table"))
        .when(roll < conf["unknown_permille"] + conf["truncated_permille"], F.lit("unparseable"))
        .alias("dead"),
    )
    files_v1 = F.struct(*FILES_V1.names)
    files_v2 = F.struct("repo", "path", "commit", F.col("lang").alias("language"), F.col("content").alias("body"))
    value = (
        F.when(F.col("dead") == "unknown_table", _maxwell(F.lit("audit_log"), F.struct("repo", "path", "commit")))
        .when(F.col("table") == "repos", _maxwell(F.lit("repos"), F.struct(*REPOS.names)))
        .when(F.col("k") >= drift_at, _maxwell(F.lit("files"), files_v2))
        .otherwise(_maxwell(F.lit("files"), files_v1))
    )
    truncated = F.substring(value, 1, (F.length(value) / 2).cast("int"))
    raw = stage(ctx, ev.select(
        "k", "dead", F.when(F.col("dead") == "unparseable", truncated).otherwise(value).alias("value"),
    ), "envelopes")
    applied = ev.where(F.col("dead").isNull())
    streams = {
        name: applied.where(F.col("table") == name).select("lsn", "op_ts", "op", *schema.names)
        for name, schema in (("files", FILES_V1), ("repos", REPOS))
    }
    return bases, raw, streams


def routed_drift_mor(ctx: Ctx) -> None:
    conf = ROUTED
    spark = ctx.spark
    n_keys, per_slice = ctx.sized(conf["keys"]), ctx.sized(conf["slice_events"])
    n_timed = max(1, int(round(ctx.seconds / conf["nominal_slice_s"])))
    warm = conf["warmup_slices"]
    drift_at = warm + n_timed // 2
    n_slices = warm + n_timed

    bases, raw, streams = routed_inputs(ctx, n_keys, n_slices * per_slice, per_slice, drift_at, conf)
    keys = base_keys(bases["files"])
    ctx.mark("inputs")
    tables = {
        name: cdc.LakeTable.create(ctx.path(f"lake/{name}"), spark, n_buckets=conf["buckets"],
                                   schema=schema, write_mode="mor")
        for name, schema in (("files", FILES_V1), ("repos", REPOS))
    }
    for name, lake in tables.items():
        cdc.bootstrap_snapshot(lake, bases[name], 0, mode="cow")
    ctx.mark("bootstrap")

    mappings: List[dict] = []

    def one_slice(i: int) -> float:
        schemas = {"files": FILES_V2 if i >= drift_at else FILES_V1, "repos": REPOS}
        t = time.perf_counter()
        out = cdc.replay_routed(
            tables, raw.where(F.col("k") == i).select("value"), schemas,
            batch_lsns=1 << 40, batch_id_prefix=f"wal{i}", parallelism=1,
        )
        commit_s = time.perf_counter() - t
        ctx.attempted += 1
        for per_table in out:
            for name, commit in per_table.items():
                if name == "files" and i >= drift_at:
                    mappings.append(commit.get("drift_mapping") or {})
        return commit_s

    for i in range(warm):
        one_slice(i)
    ctx.mark("warmup")

    # closed loop over a backlog that is all available at t0
    t0 = ctx.begin_timed()
    for j in range(n_timed):
        ctx.sample("commit_s", one_slice(warm + j))
        now = time.perf_counter()
        ctx.sample("freshness_lag_s", now - t0)
    ctx.end_timed()
    ctx.mark("timed")
    ctx.sample("step_s", (ctx.timed_end - t0) / n_timed)
    # one pass over the envelopes: events applied in the timed phase, and
    # the dead letters each kind was built to produce
    built = raw.groupBy("dead", (F.col("k") >= warm).alias("timed")).agg(F.count(F.lit(1)).alias("n")).collect()
    events = sum(r["n"] for r in built if r["dead"] is None and r["timed"])
    want: Dict[str, int] = {}
    for r in built:
        if r["dead"] is not None:
            want[r["dead"]] = want.get(r["dead"], 0) + r["n"]
    ctx.metrics["ingest_events_per_s"] = events / (ctx.timed_end - t0)

    # drift: every files commit after the switch maps both renamed columns
    for m in mappings:
        ctx.check("drift_mapping", m == DRIFT_EXPECTED, f"{m} != {DRIFT_EXPECTED}")
    ctx.check("drift_commits", len(mappings) == n_slices - drift_at,
              f"{len(mappings)} drifted files commits, expected {n_slices - drift_at}")

    # dead letters by reason, decoded from everything consumed
    ctx.group("bench.oracle")
    routed = cdc.decode_maxwell_routed(raw.select("value"), {"files": FILES_V1, "repos": REPOS})
    got = {r["reason"]: r["n"] for r in routed.dead_letters.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    ctx.check("dead_letters", got == want, f"{got} != {want}")
    ctx.layer["cdc.router.dead_letters"] = sum(got.values())
    ctx.layer["cdc.drift.mapped_cols"] = sum(len(m) for m in mappings)

    oracles = {
        name: lww_oracle(spark, name, bases[name], streams[name], schema.names[3:])
        for name, schema in (("files", FILES_V1), ("repos", REPOS))
    }
    read_and_lookup(
        ctx, tables, oracles, {"files": ["content"], "repos": ["stars", "license", "_bucket"]}, keys, conf,
        "files",
    )
    if ctx.tracer is not None:
        ctx.group("bench.trace")
        ctx.layer["cdc.lake.files_live"] = sum(lake.files().count() for lake in tables.values())
    ctx.group(None)


WORKLOADS: Dict[str, Callable[[Ctx], None]] = {
    "tail_mor_mirror": tail_mor_mirror,
    "routed_drift_mor": routed_drift_mor,
}
