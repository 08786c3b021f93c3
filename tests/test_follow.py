"""Changelog follower: resumable, exactly-once downstream consumption
(valentine_spark/cdc/follow.py).

The invariant under test throughout: a mirror lake maintained ONLY from
follower deliveries reaches the same state checksum as the source lake,
under every crash/replay/retention scenario.
"""

import os

import pytest
from pyspark.sql import functions as F

from valentine_spark.cdc import (
    ChangelogFollower,
    LakeTable,
    SnapshotExpiredError,
    apply_delivery,
    mirror_changes,
    replay,
    synth_change_stream,
)


def _replay_slices(lake, stream, n_events, n_slices, prefix="b"):
    per = n_events // n_slices
    replay(lake, stream, batch_lsns=per, batch_id_prefix=prefix, max_lsn=n_events - 1)


def test_mirror_changes_end_to_end(spark, tmp_path):
    """One-call tail: mirror == source, and a re-run delivers nothing."""
    stream = synth_change_stream(spark, 4_000, 800, seed=41).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=4)
    _replay_slices(src, stream, 4_000, 4)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=4)
    commits = mirror_changes(src, dst, str(tmp_path / "ckpt"))
    assert len(commits) == 1  # caught up in one bounded diff, not 4 replays
    assert dst.state_checksum() == src.state_checksum()
    assert mirror_changes(src, dst, str(tmp_path / "ckpt")) == []


def test_follower_incremental_polls_track_source(spark, tmp_path):
    """Poll between ingest commits: each delivery extends the previous one,
    and the mirror tracks the source after every commit."""
    stream = synth_change_stream(spark, 4_000, 700, seed=43).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=4)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=4)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"))
    for i in range(4):
        batch = stream.where(
            (F.col("lsn") >= i * 1_000) & (F.col("lsn") < (i + 1) * 1_000)
        )
        replay(src, batch, batch_lsns=10_000, batch_id_prefix=f"s{i}",
               max_lsn=4_000 - 1)
        d = fol.poll()
        assert d is not None and d.to_version == src.version
        apply_delivery(dst, d)
        fol.commit(d)
        assert dst.state_checksum() == src.state_checksum()
    assert fol.poll() is None
    assert fol.position == src.version


def test_poll_reads_each_snapshot_once(spark, tmp_path, monkeypatch):
    """One poll loads the FROM and the TO snapshot once each: the changelog
    diff and the delivery's hints share those two reads."""
    stream = synth_change_stream(spark, 1_000, 200, seed=47)
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=4)
    _replay_slices(src, stream, 1_000, 2)
    current = src.version
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"))
    reads = []
    real_metadata = LakeTable.metadata

    def metadata(self, version=None):
        meta = real_metadata(self, version)
        reads.append(meta["version"])
        return meta

    monkeypatch.setattr(LakeTable, "metadata", metadata)
    d = fol.poll()
    assert (d.from_version, d.to_version) == (0, current)
    assert sorted(reads) == [0, current]


def test_crash_between_effect_and_commit_is_exactly_once(spark, tmp_path):
    """Apply the delivery, 'crash' before commit, restart: the re-poll
    reproduces the identical token, the sink dedupes it, state is correct."""
    stream = synth_change_stream(spark, 3_000, 600, seed=47).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    _replay_slices(src, stream, 3_000, 3)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=2)

    fol = ChangelogFollower(src, str(tmp_path / "ckpt"))
    d1 = fol.poll()
    first = apply_delivery(dst, d1)
    assert not first.get("skipped")
    # crash here: no commit.  A fresh follower instance re-polls...
    fol2 = ChangelogFollower(src, str(tmp_path / "ckpt"))
    d2 = fol2.poll()
    assert d2.token == d1.token
    assert (d2.from_version, d2.to_version) == (d1.from_version, d1.to_version)
    # ...and the token-keyed MERGE is a no-op on re-application
    second = apply_delivery(dst, d2)
    assert second.get("skipped") is True
    fol2.commit(d2)
    assert dst.state_checksum() == src.state_checksum()
    assert fol2.poll() is None


def test_out_of_order_and_stale_commits_rejected(spark, tmp_path):
    stream = synth_change_stream(spark, 2_000, 400, seed=53).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    _replay_slices(src, stream, 2_000, 4)  # lake at v4
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"))
    d_full = fol.poll()              # 0 -> 4
    d_half = fol.poll(to_version=2)  # 0 -> 2 (bounded catch-up)
    fol.commit(d_half)
    with pytest.raises(RuntimeError, match="stale commit"):
        fol.commit(d_half)  # replaying an already-committed token
    with pytest.raises(RuntimeError, match="out-of-order"):
        fol.commit(d_full)  # minted against the superseded position v0


def test_start_latest_sees_only_future_changes(spark, tmp_path):
    stream = synth_change_stream(spark, 2_000, 400, seed=61).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    _replay_slices(src, stream, 2_000, 2)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"), start="latest")
    assert fol.poll() is None
    tail = synth_change_stream(spark, 300, 150, seed=67, start_lsn=2_000)
    replay(src, tail, batch_lsns=10_000, batch_id_prefix="t", max_lsn=2_299)
    d = fol.poll()
    assert d is not None
    keys_changed = d.df.count()
    assert 0 < keys_changed <= 150  # bounded by the tail's key universe


def test_expired_snapshot_raises_then_resync_recovers(spark, tmp_path):
    """Retention removes the follower's base snapshot: default poll raises;
    on_expired='resync' re-bootstraps a fresh sink to the current state."""
    stream = synth_change_stream(spark, 3_000, 500, seed=71).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"))
    _replay_slices(src, stream, 3_000, 3)
    src.expire_snapshots(keep_last=1)
    assert not os.path.exists(src._meta_path(0))
    with pytest.raises(SnapshotExpiredError):
        fol.poll()
    fol_rs = ChangelogFollower(
        src, str(tmp_path / "ckpt"), on_expired="resync"
    )
    d = fol_rs.poll()
    assert d.resync and d.from_version is None
    assert d.df.where(F.col("change_op") != "insert").count() == 0
    fresh = LakeTable.create(str(tmp_path / "fresh"), spark, n_buckets=2)
    apply_delivery(fresh, d)
    fol_rs.commit(d)
    assert fresh.state_checksum() == src.state_checksum()
    assert fol_rs.poll() is None


def test_include_before_images(spark, tmp_path):
    """Before-image columns: updates carry the old payload, inserts null."""
    stream = synth_change_stream(spark, 2_000, 300, seed=73).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    half = stream.where(F.col("lsn") < 1_000)
    replay(src, half, batch_lsns=10_000, batch_id_prefix="h", max_lsn=999)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"), include_before=True)
    d0 = fol.poll()
    fol.commit(d0)
    rest = stream.where(F.col("lsn") >= 1_000)
    replay(src, rest, batch_lsns=10_000, batch_id_prefix="r", max_lsn=1_999)
    d = fol.poll()
    assert "_before_content" in d.df.columns
    bad_update = d.df.where(
        (F.col("change_op") == "update") & F.col("_before_content").isNull()
    ).count()
    bad_insert = d.df.where(
        (F.col("change_op") == "insert") & F.col("_before_content").isNotNull()
    ).count()
    assert (bad_update, bad_insert) == (0, 0)


def test_mirror_survives_mor_source(spark, tmp_path):
    """The follower is storage-mode-agnostic: tailing a merge-on-read source
    (dirty buckets, read-time resolution) mirrors the same state."""
    stream = synth_change_stream(spark, 3_000, 500, seed=79).cache()
    src = LakeTable.create(
        str(tmp_path / "src"), spark, n_buckets=2, write_mode="mor"
    )
    _replay_slices(src, stream, 3_000, 3)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=2)
    mirror_changes(src, dst, str(tmp_path / "ckpt"))
    assert dst.state_checksum() == src.state_checksum()


def test_mirror_follows_schema_evolution(spark, tmp_path):
    """Source gains a column mid-stream: the next delivery carries it in the
    TO-version schema, the mirror evolves additively before its MERGE, and
    the final states (incl. the evolved column's values) match."""
    import pyspark.sql.types as T

    stream = synth_change_stream(spark, 2_000, 400, seed=83).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=2)
    ckpt = str(tmp_path / "ckpt")

    replay(src, stream.where(F.col("lsn") < 1_000), batch_lsns=10_000,
           batch_id_prefix="h", max_lsn=999)
    mirror_changes(src, dst, ckpt)

    src.evolve_schema([T.StructField("stars", T.LongType())], note="test")
    tail = (
        stream.where(F.col("lsn") >= 1_000)
        .withColumn("stars", F.pmod(F.xxhash64("path"), F.lit(100)))
    )
    replay(src, tail, batch_lsns=10_000, batch_id_prefix="t", max_lsn=1_999)

    mirror_changes(src, dst, ckpt)
    assert "stars" in {f.name for f in dst.schema.fields}
    assert dst.state_checksum() == src.state_checksum()
    # evolved-column values themselves round-tripped (not just presence)
    s = {tuple(r) for r in src.read().select("repo", "path", "commit", "stars").collect()}
    d = {tuple(r) for r in dst.read().select("repo", "path", "commit", "stars").collect()}
    assert s == d and any(x[-1] is not None for x in s)


def test_aggressive_expiry_races_lagging_consumer_soak(spark, tmp_path):
    """Soak the retention/consumer race Delta-CDF/Iceberg users actually hit:
    ``expire_snapshots(keep_last=1)`` repeatedly removes the snapshot a
    lagging follower is positioned on, interleaved with cycles where the
    base survives.  The contract under test: a poll whose base snapshot was
    expired NEVER yields an incremental delivery (which could silently gap
    over the expired window) — it must be a resync; a poll whose base
    survives stays incremental; and the mirror equals the source after
    every cycle either way."""
    import shutil

    stream = synth_change_stream(spark, 6_000, 900, seed=77).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    dst_root = str(tmp_path / "dst")
    dst = LakeTable.create(dst_root, spark, n_buckets=2)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"), on_expired="resync")
    n_resync = n_incremental = 0
    for cycle in range(6):
        lo, hi = cycle * 1_000, (cycle + 1) * 1_000
        batch = stream.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        replay(src, batch, batch_lsns=500, batch_id_prefix=f"c{cycle}",
               max_lsn=6_000 - 1)
        base = fol.position
        if cycle in (2, 4):  # retention outruns the lagging consumer
            src.expire_snapshots(keep_last=1)
        base_expired = not os.path.exists(src._meta_path(base))
        d = fol.poll()
        assert d is not None
        assert d.resync == base_expired  # never a silent gap, never a spurious resync
        if d.resync:
            n_resync += 1
            # resync cannot observe gap-window deletes; per the documented
            # contract the sink is recreated for a byte-exact mirror
            shutil.rmtree(dst_root)
            dst = LakeTable.create(dst_root, spark, n_buckets=2)
        else:
            n_incremental += 1
        apply_delivery(dst, d)
        fol.commit(d)
        assert dst.state_checksum() == src.state_checksum()
    assert n_resync == 2 and n_incremental == 4  # both paths actually soaked
    assert fol.poll() is None


def test_mirror_follows_rename_and_drop(spark, tmp_path):
    """Source RENAMES a column (and later drops one) mid-stream: the
    delivery's field-id-resolved schema_changes replay on the mirror as
    the same metadata-only ops — no spurious added column, no stale
    orphan values, mirror state row-equal to the source."""
    stream = synth_change_stream(spark, 2_000, 400, seed=83).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=2)
    ckpt = str(tmp_path / "ckpt")

    replay(src, stream.where(F.col("lsn") < 1_000), batch_lsns=10_000,
           batch_id_prefix="h", max_lsn=999)
    mirror_changes(src, dst, ckpt)

    src.rename_column("lang", "language")
    tail = stream.where(F.col("lsn") >= 1_000).withColumnRenamed("lang", "language")
    replay(src, tail, batch_lsns=10_000, batch_id_prefix="t", max_lsn=1_999)
    mirror_changes(src, dst, ckpt)

    assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
    s = {tuple(r) for r in src.read().drop("_bucket").collect()}
    d = {tuple(r) for r in dst.read().drop("_bucket").collect()}
    assert s == d
    # drop propagation + crash-replay idempotence: the SAME consumer chain
    # polls the drop window; re-applying the delivery (drop already
    # performed) is a no-op, not an error
    fol = ChangelogFollower(src, ckpt, consumer_id="mirror")
    src.drop_column("language")
    deliv = fol.poll()
    assert deliv is not None
    assert deliv.schema_changes["renamed"] == {}
    assert deliv.schema_changes["dropped"] == ["language"]
    apply_delivery(dst, deliv)
    apply_delivery(dst, deliv)  # replay
    fol.commit(deliv)
    assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
    assert dst.state_checksum() == src.state_checksum()


def test_mirror_follows_swap_rename_in_one_window(spark, tmp_path):
    """A rename PERMUTATION (lang<->content via the 3-step dance) collapsed
    into ONE delivery window: schema_changes carries {lang: content,
    content: lang}, every pair is blocked (each new name occupied), and the
    mirror must break the cycle via a temp — a silent skip would merge
    swapped-meaning rows into unswapped columns."""
    stream = synth_change_stream(spark, 1_500, 300, seed=83).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=2)
    ckpt = str(tmp_path / "ckpt")
    replay(src, stream.where(F.col("lsn") < 700), batch_lsns=10_000,
           batch_id_prefix="h", max_lsn=699)
    mirror_changes(src, dst, ckpt)

    src.rename_column("lang", "tmp_sw")
    src.rename_column("content", "lang")
    src.rename_column("tmp_sw", "content")
    tail = (
        stream.where(F.col("lsn") >= 700)
        .withColumnRenamed("lang", "old_lang")
        .withColumnRenamed("content", "lang")
        .withColumnRenamed("old_lang", "content")
    )
    replay(src, tail, batch_lsns=10_000, batch_id_prefix="t", max_lsn=1_499)

    fol = ChangelogFollower(src, ckpt, consumer_id="mirror")
    d = fol.poll()
    assert d.schema_changes["renamed"] == {"lang": "content", "content": "lang"}
    apply_delivery(dst, d)
    apply_delivery(dst, d)  # crash-replay: dance already done, no-op
    fol.commit(d)
    assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
    s = {tuple(r) for r in src.read().drop("_bucket").collect()}
    t = {tuple(r) for r in dst.read().drop("_bucket").collect()}
    assert s == t
