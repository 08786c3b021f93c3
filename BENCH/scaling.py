#!/usr/bin/env python
"""N -> 4N scaling harness: the north star's bar is that throughput scales
by at least 0.8 from N to 4N cores and that the final table state is the
same at both sizes.

    python BENCH/scaling.py [n_events] [--cpus LO,HI] [--json PATH]
                            [--work-dir DIR]

Protocol:

* One untimed builder JVM makes the shared inputs under the work dir: the
  consumer's source lake (three replay legs, so the changelog window has
  populated endpoints), the routed raw-envelope parquet (Maxwell JSON for
  4 tables), and every oracle.  Both levels read identical bytes.
* Per level and round, one fresh JVM pinned to the level's first ``cpus``
  CPUs runs, in order: COW replay, MoR replay, the consumer's ``changes``
  scan, ``mirror_changes`` into an empty mirror, a catch-up poll into a
  mirror already populated to the 3/4 snapshot, and routed ingest.
* The levels interleave (lo, hi, lo, hi, ...), so host drift biases both
  alike; every path reports the median wall of its rounds and their
  spread (max - min), its rate, and the scaling efficiency
  ``wall_lo / (HI/LO * wall_hi)`` of the medians.
* Every path's result is checked against an oracle at every round: the
  replayed and routed tables against perfbench's Spark-SQL LWW oracle,
  the scan against a plain outer-join diff of its two snapshots, the
  mirrors against their source.  Any mismatch exits 1.

``platform_ceiling`` is the same ratio for a pinned fork pool of pure
integer spin (no Spark, no memory traffic): on a virtualised host the
hypervisor may not grant 4x the cycles to 4x the vCPUs, and no plan
scales better than the platform.  The host stamp (CPU count, load, steal)
comes from ``perfbench/host.py``; only compare artifacts whose ``nproc``
agrees.  ``--work-dir`` holds the lakes and Spark's local dir (default:
the system temp dir); a RAM disk there keeps one shared physical disk
from masking CPU scaling.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PERFBENCH = os.path.join(REPO, "perfbench")
sys.path[:0] = [REPO, PERFBENCH]

import host  # noqa: E402  (perfbench/host.py)

ROUNDS = 3  # JVMs per level; lo and hi alternate
BUCKETS = 64
N_TABLES = 4
BUILD_CPUS = 8  # fixed: the inputs' file layout must not depend on a level
KEY = ["repo", "path", "commit"]
PAYLOAD = ["lang", "content"]
ROUTED_DDL = "repo string, path string, commit string, lang string, content string"
SPIN = 6_000_000


# -- Spark-side helpers (run inside the builder / level JVMs) ----------------


def _session(cpus: int, local_dir: str):
    from pyspark.sql import SparkSession

    # a quarter of the host's memory, at most the 16g the 64M-event runs need
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{int(min(16, max(2, mem_gb // 4)))}g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _stream(spark, n: int):
    from valentine_spark.cdc import synth_change_stream

    return synth_change_stream(spark, n, max(n // 10, 1))


def _table_col():
    from pyspark.sql import functions as F

    return F.concat(F.lit("t"), F.pmod(F.xxhash64(*KEY), F.lit(N_TABLES)))


def _sig(df) -> list:
    """Order-free signature of a DataFrame: [row count, sum of row hashes]."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["c"]), str(row["h"] or 0)]


def _state(lake) -> list:
    cs = lake.state_checksum()
    return [cs["rows"], str(cs["checksum"])]


def _diff_oracle(a, b):
    """What ``changes(a, b)`` must return, as (change_op, key) rows: a plain
    full outer join of the two snapshots' live rows."""
    from pyspark.sql import functions as F

    def side(df, p):
        return df.select(*KEY, F.lit(True).alias(f"{p}_live"),
                         *[F.col(c).alias(f"{p}_{c}") for c in PAYLOAD])

    j = side(a, "a").join(side(b, "b"), KEY, "full_outer")
    same = F.lit(True)
    for c in PAYLOAD:
        same = same & F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
    op = (F.when(F.col("a_live").isNull(), "insert")
          .when(F.col("b_live").isNull(), "delete").otherwise("update"))
    return j.where(F.col("a_live").isNull() | F.col("b_live").isNull() | ~same).select(
        op.alias("change_op"), *KEY)


def build(root: str, n: int) -> None:
    """Untimed: the shared inputs under ``root`` and ``root/expected.json``."""
    from pyspark.sql import functions as F

    import workloads  # perfbench/workloads.py
    from valentine_spark.cdc import LakeTable, replay, synth_change_stream

    spark = _session(BUILD_CPUS, os.path.join(root, "spark-build"))
    src = LakeTable.create(os.path.join(root, "src"), spark, n_buckets=BUCKETS)
    src_stream = synth_change_stream(spark, n, max(n // 4, 1))
    cuts = [0, n // 2, (3 * n) // 4, n]
    versions = []
    for prefix, lo, hi in zip(("head", "tail", "tip"), cuts, cuts[1:]):
        replay(src, src_stream.where(f"lsn >= {lo} AND lsn < {hi}"),
               batch_lsns=max(n // 8, 1), batch_id_prefix=prefix, max_lsn=hi - 1)
        versions.append(src.version)
    v_half, v_q3, v_full = versions

    ev = _stream(spark, n)
    raw = ev.select(F.to_json(F.struct(
        F.lit("gh").alias("database"),
        _table_col().alias("table"),
        F.when(F.col("op") == "delete", F.lit("delete")).otherwise(F.lit("update")).alias("type"),
        F.unix_timestamp("op_ts").alias("ts"),
        F.col("lsn").alias("xid"),
        F.concat(F.lit("mysql-bin.000001:"), F.col("lsn")).alias("position"),
        F.struct(*KEY, *PAYLOAD).alias("data"),
    )).alias("value"))
    raw.repartition(32).write.parquet(os.path.join(root, "raw"))

    empty = spark.createDataFrame([], ROUTED_DDL)

    def lww(name, events) -> list:
        s = workloads.oracle_summary(workloads.lww_oracle(spark, name, empty, events, PAYLOAD),
                                     ["content"], BUCKETS)
        return [s["rows"], str(s["checksum"])]

    replay_state = lww("replay", ev)
    tagged = ev.withColumn("_table", _table_col())
    expected = {
        "versions": {"half": v_half, "q3": v_q3, "full": v_full},
        "events": {"catchup": n - cuts[2]},
        "cow_replay": replay_state,
        "mor_replay": replay_state,
        "changes_scan": _sig(_diff_oracle(src.read(version=v_half), src.read(version=v_full))),
        "mirror": _state(src),
        "catchup": _state(src),
        "routed_ingest": {
            f"t{i}": lww(f"t{i}", tagged.where(F.col("_table") == f"t{i}").drop("_table"))
            for i in range(N_TABLES)
        },
    }
    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    spark.stop()


def run_level(root: str, n: int, cpus: int, out_path: str) -> None:
    """One level-round in this (pinned) process: every path, timed, with
    its final state.  Writes ``{path: {"wall": s, "state": sig}}``."""
    from pyspark.sql import types as T

    from valentine_spark.cdc import LakeTable, mirror_changes, replay, replay_routed
    from valentine_spark.cdc.follow import ChangelogFollower, apply_delivery

    with open(os.path.join(root, "expected.json")) as fh:
        versions = json.load(fh)["versions"]
    work = tempfile.mkdtemp(prefix=f"level{cpus}-", dir=root)
    spark = _session(cpus, os.path.join(work, "spark"))
    out = {}

    def timed(path, run, state):
        t0 = time.perf_counter()
        run()
        out[path] = {"wall": time.perf_counter() - t0, "state": state()}

    def new_lake(name, **kw):
        return LakeTable.create(os.path.join(work, name), spark, n_buckets=BUCKETS, **kw)

    # JIT/codegen warmup on a 5% replay, identical at both levels
    replay(new_lake("warm"), _stream(spark, max(n // 20, 1)), batch_lsns=max(n // 40, 1))

    stream = _stream(spark, n)
    for mode in ("cow", "mor"):
        lake = new_lake(mode, write_mode=mode)
        timed(f"{mode}_replay",
              lambda: replay(lake, stream, batch_lsns=max(n // 4, 1), max_lsn=n - 1),
              lambda: _state(lake))

    src = LakeTable(os.path.join(root, "src"), spark)
    sig = []
    timed("changes_scan",
          lambda: sig.append(_sig(src.changes(versions["half"], versions["full"])
                                  .select("change_op", *KEY))),
          lambda: sig[0])

    mirror = new_lake("mirror")
    timed("mirror", lambda: mirror_changes(src, mirror, os.path.join(work, "mirror-ckpt")),
          lambda: _state(mirror))

    caught = new_lake("catchup")
    fol = ChangelogFollower(src, os.path.join(work, "catchup-ckpt"))

    def deliver(to_version=None):
        d = fol.poll(to_version=to_version)
        apply_delivery(caught, d)
        fol.commit(d)

    deliver(versions["q3"])  # untimed: the mirror is populated up to the 3/4 snapshot
    timed("catchup", deliver, lambda: _state(caught))

    schemas = {f"t{i}": T.StructType.fromDDL(ROUTED_DDL) for i in range(N_TABLES)}
    raw = spark.read.parquet(os.path.join(root, "raw"))
    raw.count()  # warm the scan
    lakes = {name: new_lake(f"routed-{name}") for name in schemas}
    timed("routed_ingest",
          lambda: replay_routed(lakes, raw, schemas, batch_lsns=max(n // 4, 1), parallelism=4),
          lambda: {name: _state(lake) for name, lake in lakes.items()})

    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh)


# -- driver side (no Spark) ----------------------------------------------------


def _spin(k: int) -> int:
    x = 0
    for i in range(k):
        x += i * i
    return x


def spin_rate(procs: int) -> float:
    """Mops/s of a fork pool of ``procs`` pure-integer spinners."""
    import multiprocessing as mp

    # fork is safe here: the caller is a fresh single-threaded interpreter
    with mp.get_context("fork").Pool(procs) as pool:
        t0 = time.perf_counter()
        pool.map(_spin, [SPIN] * procs * 3)
        return procs * 3 * SPIN / (time.perf_counter() - t0) / 1e6


def _pinned(cpus: int, call: str, timeout: float) -> str:
    """Run ``scaling.<call>`` in a fresh interpreter pinned to the first
    ``cpus`` CPUs this process may use; returns its stdout."""
    allowed = sorted(os.sched_getaffinity(0))[:cpus]
    code = f"import sys; sys.path[:0] = {[HERE, REPO, PERFBENCH]!r}; import scaling; {call}"
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=timeout,
        preexec_fn=lambda: os.sched_setaffinity(0, allowed),
    )
    if out.returncode != 0:
        raise RuntimeError(f"{call} on {cpus} cpus failed:\n{out.stderr[-4000:]}")
    return out.stdout


def platform_ceiling(lo: int, hi: int) -> dict:
    rates = {c: float(_pinned(c, f"print(scaling.spin_rate({c}))", 600).split()[-1])
             for c in (lo, hi)}
    return {f"mops_{lo}": round(rates[lo], 1), f"mops_{hi}": round(rates[hi], 1),
            "ceiling": round(rates[hi] / (hi / lo * rates[lo]), 3)}


def _summary(walls: list, work: int) -> dict:
    med = statistics.median(walls)
    return {"wall_s": round(med, 3), "spread_s": round(max(walls) - min(walls), 3),
            "walls_s": [round(w, 3) for w in walls], "rate": round(work / med, 1)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_events", nargs="?", type=int, default=8_000_000)
    ap.add_argument("--cpus", default="4,16", help="LO,HI core counts (default 4,16)")
    ap.add_argument("--json", help="also write the result JSON here")
    ap.add_argument("--work-dir", default=tempfile.gettempdir(),
                    help="where the lakes and Spark's local dir live")
    args = ap.parse_args()
    lo, hi = (int(c) for c in args.cpus.split(","))
    if not 0 < lo < hi <= host.nproc():
        sys.exit(f"--cpus {args.cpus}: need 0 < LO < HI <= {host.nproc()} usable CPUs")
    n = args.n_events
    os.makedirs(args.work_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix="scaling-", dir=args.work_dir)
    stamp0 = host.stamp(root)
    try:
        ceiling = platform_ceiling(lo, hi)
        _pinned(BUILD_CPUS, f"scaling.build({root!r}, {n})", 14400)
        with open(os.path.join(root, "expected.json")) as fh:
            expected = json.load(fh)
        runs = {lo: [], hi: []}
        for r in range(ROUNDS):
            for cpus in (lo, hi):
                out_path = os.path.join(root, f"level{cpus}-r{r}.json")
                _pinned(cpus, f"scaling.run_level({root!r}, {n}, {cpus}, {out_path!r})", 14400)
                with open(out_path) as fh:
                    runs[cpus].append(json.load(fh))
    finally:
        stamp1 = host.stamp(root)
        shutil.rmtree(root, ignore_errors=True)

    work = {
        "cow_replay": n, "mor_replay": n, "routed_ingest": n,
        "changes_scan": expected["changes_scan"][0],
        "mirror": expected["mirror"][0],
        "catchup": expected["events"]["catchup"],
    }
    paths, correct = {}, True
    for path, count in work.items():
        ok = all(run[path]["state"] == expected[path] for rs in runs.values() for run in rs)
        correct = correct and ok
        level = {f"local{c}": _summary([run[path]["wall"] for run in runs[c]], count)
                 for c in (lo, hi)}
        paths[path] = {
            **level,
            "scaling_efficiency": round(
                level[f"local{lo}"]["wall_s"] / (hi / lo * level[f"local{hi}"]["wall_s"]), 3),
            "state_ok": ok,
        }
    result = {
        "n_events": n,
        "cpus": [lo, hi],
        "rounds": ROUNDS,
        "rate_units": {p: "rows/s" if p in ("changes_scan", "mirror") else "events/s"
                       for p in work},
        "paths": paths,
        "platform_ceiling": ceiling,
        "host": {"start": stamp0, "end": stamp1, "steal_frac": host.steal_frac(stamp0, stamp1)},
        "correct": correct,
    }
    print(json.dumps(result, indent=2))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(result, fh, indent=2)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
