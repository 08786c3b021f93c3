"""Metadata tables (cdc/lake.py files()/snapshots()/partitions() — the
Iceberg metadata-table analogue): driver-built DataFrames over manifests
only, cross-checked against the data they describe."""

from pyspark.sql import functions as F, types as T

from valentine_spark.cdc import LakeTable, apply_batch, synth_change_stream


def _mk(spark, path, **kw):
    lake = LakeTable.create(str(path), spark, n_buckets=4, target_file_rows=200, **kw)
    stream = synth_change_stream(spark, 3000, 2000, seed=7)
    apply_batch(lake, stream.where(F.col("lsn") < 1500), "b1")
    apply_batch(lake, stream.where(F.col("lsn") >= 1500), "b2")
    return lake


def test_files_matches_state_and_manifests(spark, tmp_path):
    lake = _mk(spark, tmp_path / "t", stats_cols=["lang"])
    f = lake.files()
    data = f.where(F.col("kind") == "data")
    # manifest-recorded row totals equal the actual live state (COW table:
    # every key single-version, so file rows sum to table rows)
    assert data.agg(F.sum("rows")).first()[0] == lake.read().count()
    got_paths = {r["path"] for r in f.collect()}
    want_paths = {
        e["path"] for es in lake._bucket_files(lake.metadata()).values() for e in es
    }
    assert got_paths == want_paths
    # stats bounds surface in the metadata table
    assert data.where(F.map_contains_key("bounds", "lang")).count() == data.count()
    # khash ranges are well-formed
    assert data.where(F.col("min_khash") > F.col("max_khash")).count() == 0


def test_snapshots_tracks_history_and_expiry(spark, tmp_path):
    lake = _mk(spark, tmp_path / "t")
    lake.rename_column("lang", "language")
    lake.evolve_schema([T.StructField("stars", T.IntegerType())], "add stars")
    lake.widen_column("stars", T.LongType())
    lake.alter_properties(set={"owner": "ingest"})
    s = {r["version"]: r for r in lake.snapshots().collect()}
    assert s[0]["kind"] == "create"
    assert s[1]["kind"] == "merge" and s[1]["batch_id"] == "b1"
    assert s[lake.version]["is_current"]
    # every metadata-only commit reports its own kind, in both tables
    want = {3: "rename_column", 4: "schema_evolution", 5: "widen_column",
            6: "alter_properties"}
    assert {v: s[v]["kind"] for v in want} == want
    h = {r["version"]: r["kind"] for r in lake.history().collect()}
    assert {v: h[v] for v in want} == want
    assert h[1] == h[2] == "merge"
    lake.expire_snapshots(keep_last=2)
    left = sorted(r["version"] for r in lake.snapshots().collect())
    assert left == [lake.version - 1, lake.version]


def test_partitions_aggregates_and_mor_dirty(spark, tmp_path):
    lake = LakeTable.create(
        str(tmp_path / "m"), spark, n_buckets=4, target_file_rows=200,
        write_mode="mor",
    )
    stream = synth_change_stream(spark, 3000, 2000, seed=7)
    apply_batch(lake, stream.where(F.col("lsn") < 1500), "b1")
    apply_batch(lake, stream.where(F.col("lsn") >= 1500), "b2")
    p = lake.partitions().collect()
    assert {r["bucket"] for r in p} == set(range(4))
    dirty_meta = {int(b) for b in lake.metadata().get("dirty", {})}
    assert {r["bucket"] for r in p if r["dirty"]} == dirty_meta
    # dirty MoR buckets hold multiple commit versions; compact folds them
    assert all(r["distinct_seqs"] >= 2 for r in p if r["dirty"])
    lake.compact()
    p2 = lake.partitions().collect()
    assert all(not r["dirty"] and r["distinct_seqs"] == 1 for r in p2)
    assert all(r["tomb_files"] == 0 for r in p2)
