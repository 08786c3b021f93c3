"""Regression tests for the round-4 adversarial-review findings on
``cdc/lake.py`` — each test encodes one failure scenario the review
surfaced, all silent-corruption or crash class:

  * field-id reuse: evolve after dropping the max-id column must issue a
    FRESH id (reuse would resurrect the dropped column's stale bytes
    through ``_era_colmap``);
  * restore() across a rename/drop must carry the target snapshot's
    field_ids/schema_log (inheriting the head's leaves every read
    KeyError-ing on era resolution);
  * compact() over buckets holding only clean-bucket tombstones (deletes
    of never-present keys) must drop them, not IndexError;
  * tag_version() must refuse to resolve a tag created on another ref
    (version numbers are per-ref — main's v12 is not the branch's v12);
  * a create() crash between publishing v0.json and writing CURRENT must
    leave a readable table (bootstrap recovery in ``_latest_snapshot_version``);
  * state_checksum() must survive rename/drop of the content column;
  * expire_snapshots() must reclaim commit dirs whose parquet is expired
    even though Spark's _SUCCESS markers remain.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valentine_spark.cdc import LakeTable, apply_batch, synth_change_stream


def _mk(spark, path, **kw):
    lake = LakeTable.create(str(path), spark, n_buckets=4, target_file_rows=200, **kw)
    stream = synth_change_stream(spark, 2000, 1200, seed=3)
    apply_batch(lake, stream, "b1")
    return lake


def test_drop_max_id_then_add_gets_fresh_field_id(spark, tmp_path):
    """Drop the column holding the MAX field id, then evolve-add a new
    column: the new column must NOT inherit the retired id, and reads of
    pre-drop files must serve nulls for it (never the dropped column's
    stale physical bytes)."""
    lake = _mk(spark, tmp_path / "t")
    # materialize field ids via a rename (legacy tables keep positional)
    lake.rename_column("lang", "language")
    meta = lake.metadata()
    dropped_id = meta["field_ids"]["content"]
    assert dropped_id == max(meta["field_ids"].values())
    lake.drop_column("content")
    lake.evolve_schema([T.StructField("embedding", T.StringType())], "re-add slot")
    meta2 = lake.metadata()
    assert meta2["field_ids"]["embedding"] != dropped_id
    assert meta2["field_ids"]["embedding"] > dropped_id
    # pre-drop files: the new column is null everywhere, not stale content
    vals = lake.read().select("embedding").distinct().collect()
    assert [r[0] for r in vals] == [None]


def test_restore_across_rename_stays_readable(spark, tmp_path):
    """restore() to a snapshot predating a rename: the restored table
    reads under the OLD schema (no KeyError from head-era field_ids)."""
    lake = _mk(spark, tmp_path / "t")
    v = lake.version
    before = {tuple(r[:3]): r["lang"] for r in lake.read().collect()}
    lake.rename_column("lang", "language")
    lake.restore(v)
    df = lake.read()
    assert "lang" in df.columns and "language" not in df.columns
    after = {tuple(r[:3]): r["lang"] for r in df.collect()}
    assert after == before
    # and the restored lineage keeps evolving safely: a fresh add must not
    # collide with the id the abandoned later era may have consumed
    lake.evolve_schema([T.StructField("extra", T.StringType())], "post-restore add")
    assert lake.read().select("extra").distinct().collect()[0][0] is None


def test_restore_across_drop_stays_readable(spark, tmp_path):
    lake = _mk(spark, tmp_path / "t")
    v = lake.version
    n = lake.read().count()
    lake.drop_column("content")
    lake.restore(v)
    df = lake.read()
    assert "content" in df.columns
    assert df.where(F.col("content").isNotNull()).count() == n


def test_compact_tombstone_only_buckets(spark, tmp_path):
    """MoR deletes of never-present keys leave tomb-only CLEAN buckets;
    compact() must drop those entries instead of IndexError-ing."""
    lake = LakeTable.create(str(tmp_path / "t"), spark, n_buckets=4)
    ghost = spark.createDataFrame(
        [(f"repo-{i}", f"path-{i}", "c0") for i in range(8)],
        "repo string, path string, commit string",
    ).withColumn("op_ts", F.lit(1)).withColumn("lsn", F.lit(1)) \
     .withColumn("op", F.lit("delete")) \
     .withColumn("lang", F.lit(None).cast("string")) \
     .withColumn("content", F.lit(None).cast("string"))
    apply_batch(lake, ghost, "g1", mode="mor")
    assert lake.metadata()["dirty"] == {}  # never-present keys: stays clean
    res = lake.compact(min_files=1)
    assert res["files_after"] == 0
    assert lake.read().count() == 0
    assert lake.metadata()["buckets"] == {}


def test_tag_version_refuses_cross_ref(spark, tmp_path):
    lake = _mk(spark, tmp_path / "t")
    branch = lake.create_branch("wap")
    stream = synth_change_stream(spark, 500, 300, seed=9)
    apply_batch(branch, stream, "wap-b1")
    branch.create_tag("cut")
    assert branch.tag_version("cut") == branch.version
    with pytest.raises(ValueError, match="ref 'wap'"):
        lake.tag_version("cut")


def test_bootstrap_crash_before_current_is_recoverable(spark, tmp_path):
    """v0.json published, CURRENT never written (create() died in the
    window): reads must recover by walking from v0."""
    root = tmp_path / "t"
    lake = _mk(spark, root)
    n = lake.read().count()
    os.remove(os.path.join(str(root), "metadata", "CURRENT"))
    fresh = LakeTable(str(root), spark)
    assert fresh.read().count() == n
    # and a recovering write repairs the pointer
    apply_batch(fresh, synth_change_stream(spark, 200, 100, seed=5), "b2")
    assert os.path.exists(os.path.join(str(root), "metadata", "CURRENT"))


def test_state_checksum_survives_schema_evolution(spark, tmp_path):
    lake = _mk(spark, tmp_path / "t")
    base = lake.state_checksum()
    # additive evolution does not change the checksum (content unchanged)
    lake.evolve_schema([T.StructField("stars", T.LongType())], "add")
    assert lake.state_checksum() == base
    # rename of a non-hashed column: unchanged
    lake.rename_column("lang", "language")
    assert lake.state_checksum() == base
    # dropping content changes what is measured but must not crash
    lake.drop_column("content")
    after = lake.state_checksum()
    assert after["rows"] == base["rows"]
    assert after["checksum"] != base["checksum"]


def test_mirror_drop_then_rename_into_freed_name(spark, tmp_path):
    """One poll window where the source drops 'a' and renames 'b' into the
    freed name: apply_delivery must apply the drop FIRST (renames-first
    livelocks parking on its own temp name forever)."""
    from valentine_spark.cdc import ChangelogFollower, apply_delivery, replay

    stream = synth_change_stream(spark, 2_000, 400, seed=21).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=4)
    replay(src, stream, batch_lsns=1_000, batch_id_prefix="b", max_lsn=1_999)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=4)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"))
    d = fol.poll()
    apply_delivery(dst, d)
    fol.commit(d)
    # drift inside ONE window: drop lang, rename content -> lang
    src.drop_column("lang")
    src.rename_column("content", "lang")
    apply_batch(src, synth_change_stream(spark, 200, 100, seed=22)
                .drop("content").withColumnRenamed("lang", "drop_me")
                .withColumn("lang", F.lit("x")).drop("drop_me"), "post")
    d2 = fol.poll()
    assert d2.schema_changes is not None
    apply_delivery(dst, d2)
    fol.commit(d2)
    assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
    assert dst.state_checksum() == src.state_checksum()


def test_resync_recovers_across_nonadditive_drift(spark, tmp_path):
    """Mirror expired while the source renamed AND dropped columns: the
    resync delivery must reconcile the mirror's schema (id-diff against
    source_field_ids) instead of crashing on absent columns."""
    from valentine_spark.cdc import ChangelogFollower, apply_delivery, replay

    stream = synth_change_stream(spark, 3_000, 500, seed=23).cache()
    src = LakeTable.create(str(tmp_path / "src"), spark, n_buckets=2)
    replay(src, stream, batch_lsns=1_000, batch_id_prefix="b", max_lsn=2_999)
    dst = LakeTable.create(str(tmp_path / "dst"), spark, n_buckets=2)
    fol = ChangelogFollower(src, str(tmp_path / "ckpt"), on_expired="resync")
    d = fol.poll()
    apply_delivery(dst, d)
    fol.commit(d)
    # non-additive drift while the follower lags...
    src.rename_column("lang", "language")
    src.drop_column("content")
    apply_batch(src, synth_change_stream(spark, 200, 100, seed=24)
                .withColumnRenamed("lang", "language").drop("content"), "post")
    # ...and retention removes the follower's base snapshot
    src.expire_snapshots(keep_last=1)
    assert not os.path.exists(src._meta_path(d.to_version))
    d2 = fol.poll()
    assert d2.resync and d2.source_field_ids is not None
    apply_delivery(dst, d2)
    fol.commit(d2)
    assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
    assert dst.state_checksum() == src.state_checksum()


def test_merge_rejects_stale_bucket_layout_hints(spark, tmp_path):
    """changed_buckets/watermarks computed under an old n_buckets must be
    rejected when a rebucket() replaced the layout (silently honoring them
    would prune the wrong files), and apply_batch recomputes + succeeds."""
    from valentine_spark.cdc import BucketLayoutChangedError

    lake = _mk(spark, tmp_path / "t")  # n_buckets=4
    batch = synth_change_stream(spark, 500, 300, seed=31)
    from valentine_spark.cdc.apply import lww_dedup

    winners = lww_dedup(batch)
    upserts = winners.where(F.col("op") != "delete").select(
        "repo", "path", "commit", "lang", "content"
    )
    deletes = winners.where(F.col("op") == "delete").select("repo", "path", "commit")
    lake.rebucket(8)
    with pytest.raises(BucketLayoutChangedError):
        lake.merge(upserts, deletes, "stale-hints",
                   changed_buckets=[0, 1, 2, 3], hint_n_buckets=4)
    # apply_batch recovers by recomputing hints against the fresh layout
    res = apply_batch(lake, batch, "fresh-hints")
    assert not res.get("skipped")


def test_async_checkpoint_failure_raises_at_flush(spark, tmp_path):
    from valentine_spark.cdc import ChangelogFollower

    lake = _mk(spark, tmp_path / "t")
    fol = ChangelogFollower(lake, str(tmp_path / "ckpt"), async_checkpoint=True)
    d = fol.poll()
    fol._flush_file = lambda ckpt: (_ for _ in ()).throw(OSError("disk full"))
    fol.commit(d)  # async write fails in the background thread
    with pytest.raises(RuntimeError, match="async checkpoint write failed"):
        fol.flush_checkpoint()


def test_resync_pinned_to_requested_version_after_evolution(spark, tmp_path):
    """_resync_delivery must read the REQUESTED snapshot's schema, not the
    head's — an evolve between them would select absent columns."""
    from valentine_spark.cdc import ChangelogFollower

    lake = _mk(spark, tmp_path / "t")
    v_old = lake.version
    fol = ChangelogFollower(lake, str(tmp_path / "ckpt"), on_expired="resync")
    apply_batch(lake, synth_change_stream(spark, 300, 200, seed=33), "b2")
    lake.evolve_schema([T.StructField("stars", T.LongType())], "add")
    lake.rename_column("lang", "language")
    # force the expired path, then resync against the PRE-evolution snapshot
    os.remove(lake._meta_path(0))
    d = fol.poll(to_version=v_old)
    assert d.resync
    assert "language" not in d.df.columns and "lang" in d.df.columns
    assert "stars" not in d.df.columns


def test_stream_reader_field_ids_match_schema_snapshot(spark, tmp_path):
    """The stream reader's field-id map must come from the SAME snapshot
    the stream schema came from: a rename committing between the two reads
    would otherwise silently null that column for the stream's lifetime."""
    from valentine_spark.streaming.lake_source import LakeChangesDataSource

    lake = _mk(spark, tmp_path / "t")
    ds = LakeChangesDataSource(options={"path": str(tmp_path / "t")})
    schema = ds.schema()
    assert "content" in [f.name for f in schema.fields]
    lake.rename_column("content", "body")  # race lands between the two reads
    reader = ds.streamReader(schema)
    assert "content" in reader._fids and "body" not in reader._fids


def test_merge_into_coerces_source_key_types(spark, tmp_path):
    """Source key columns arriving with the wrong dtype (int commit ids)
    must hash like the stored strings — otherwise the match is silently
    missed and an insert clause writes a duplicate beside the original."""
    lake = LakeTable.create(str(tmp_path / "t"), spark, n_buckets=4)
    base = spark.createDataFrame(
        [("r1", "p1", "42", "py", "old")],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("op_ts", F.lit(1)).withColumn("lsn", F.lit(1)).withColumn("op", F.lit("upsert"))
    apply_batch(lake, base, "b1")
    src = spark.createDataFrame(
        [("r1", "p1", 42, "py", "new")],
        "repo string, path string, commit int, lang string, content string",
    )
    res = (lake.merge_into(src)
           .when_matched_update({"content": F.col("s.content")})
           .when_not_matched_insert()
           .execute(batch_id="m1"))
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 0
    rows = lake.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "new"


def test_merge_into_rejects_null_source_keys(spark, tmp_path):
    """NULL key columns would match via eqNullSafe but never confirm in
    the pruning equi-join — reject them up front instead of silently
    mis-classifying the row."""
    from valentine_spark.cdc import MergeCardinalityError

    lake = _mk(spark, tmp_path / "t")
    src = spark.createDataFrame(
        [("r1", None, "c1", "py", "x")],
        "repo string, path string, commit string, lang string, content string",
    )
    with pytest.raises(MergeCardinalityError, match="NULL key"):
        lake.merge_into(src).when_not_matched_insert().execute()


def test_ivm_integer_sums_exact_past_double_precision(spark, tmp_path):
    """Sum measures over integral columns must be exact: a double
    accumulator silently rounds totals past 2^53 (the docstring's
    'integer measures are exact' promise)."""
    from valentine_spark.cdc import aggregate_delta, init_aggregate, maintain_aggregate

    big = (1 << 53) + 1  # not representable as a double
    state = spark.createDataFrame(
        [("r1", "p1", "c1", "py", big), ("r2", "p2", "c2", "py", 3)],
        "repo string, path string, commit string, lang string, sz long",
    )
    agg = init_aggregate(state, ["lang"], {"total": ("sum", "sz")})
    row = agg.collect()[0]
    assert row["total"] == big + 3  # exact, not 2^53 + 4.0
    assert dict(agg.dtypes)["total"] == "bigint"
    # delta maintenance stays exact too
    chg = spark.createDataFrame(
        [("insert", "r3", "p3", "c3", "py", 1, None, None)],
        "change_op string, repo string, path string, commit string, "
        "lang string, sz long, _before_lang string, _before_sz long",
    )
    agg2 = maintain_aggregate(agg, chg, ["lang"], {"total": ("sum", "sz")})
    assert agg2.collect()[0]["total"] == big + 4


def test_drift_evolves_with_actual_spark_types(spark, tmp_path):
    """A drifted NEW column must evolve the schema with its real Spark
    type — the old dtype-string lookup mapped anything exotic (decimal,
    arrays) to string, writing files whose physical type contradicted the
    schema."""
    from decimal import Decimal

    lake = _mk(spark, tmp_path / "t")
    batch = synth_change_stream(spark, 300, 200, seed=41).withColumn(
        "price", F.lit(Decimal("9.99")).cast("decimal(10,2)")
    )
    apply_batch(lake, batch, "drifted")
    assert dict(lake.read().dtypes)["price"] == "decimal(10,2)"
    row = lake.read().where(F.col("price").isNotNull()).first()
    assert row["price"] == Decimal("9.99")


def test_drift_rename_casts_to_target_type(spark, tmp_path):
    """An accepted rename whose batch column has the wrong dtype must be
    cast to the target column's type — uncast, the merge would write int
    physical data into a string-schema'd file."""
    from valentine_spark.cdc.drift import resolve_drift

    lake = _mk(spark, tmp_path / "t")
    batch = (
        synth_change_stream(spark, 300, 200, seed=43)
        .withColumn("lang", F.when(F.col("op") != "delete", F.lit("1000")).otherwise(F.lit(None)))
        .withColumnRenamed("lang", "language")  # rename target: lang
        .withColumn("language", F.col("language").cast("int"))
    )

    class ForceMatch:  # a matcher that accepts the rename despite the dtype
        def get_matches(self, s, t, sn, tn):
            return {((sn, "language"), (tn, "lang")): 1.0}

    renamed, mapping, _stages = resolve_drift(batch, lake, matcher=ForceMatch())
    assert mapping.get("language") == "lang"
    assert dict(renamed.dtypes)["lang"] == "string"  # cast to target type


def test_drift_threshold_floor_applies_to_default_cascade(spark, tmp_path):
    """apply_batch(drift_threshold=...) must actually gate the default
    matcher cascade — a floor of 1.01 makes every rename unacceptable, so
    the drifted column evolves as NEW instead of renaming."""
    from valentine_spark.cdc.drift import resolve_drift

    lake = _mk(spark, tmp_path / "t")
    batch = synth_change_stream(spark, 300, 200, seed=44).withColumnRenamed(
        "lang", "language"
    )
    _r, mapping_loose, _s = resolve_drift(batch, lake)
    assert mapping_loose.get("language") == "lang"  # default accepts
    lake2 = _mk(spark, tmp_path / "t2")
    _r2, mapping_strict, _s2 = resolve_drift(batch, lake2, threshold=1.01)
    assert mapping_strict == {}  # floor above 1.0: nothing accepted


def test_zorder_nulls_key_to_origin(spark):
    """NULL numeric values must z-key to 0 (cluster at the origin), not to
    the top of the range — Spark's least/greatest skip nulls, so the old
    trailing coalesce never fired."""
    from valentine_spark.cdc.clustering import zorder_column

    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.LongType()),
    ])
    df = spark.createDataFrame(
        [(None, 0), (0, 0), (100, 0)], schema
    )
    z = df.select(F.col("a"), zorder_column(df, ["a", "b"], schema).alias("z")).collect()
    by_a = {r["a"]: r["z"] for r in z}
    assert by_a[None] == by_a[0] == 0  # null clusters with the minimum
    assert by_a[100] > 0


def test_zorder_rejects_unsupported_type_clearly(spark):
    from valentine_spark.cdc.clustering import zorder_column

    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    df = spark.createDataFrame([(1, ["x"])], schema)
    with pytest.raises(TypeError, match="tags"):
        zorder_column(df, ["a", "tags"], schema)


def test_minhash_lsh_rejects_invalid_band_split(spark):
    """bands > k would make every band signature empty (the equi-join
    degenerates to a full cross product); k % bands != 0 silently drops
    signature entries — both must raise."""
    from valentine_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(0, "abc"), (1, "abd")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(df, k=8, bands=16)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(df, k=12, bands=8)


def test_exact_duplicates_null_text_not_grouped(spark):
    """Two documents with NULL text are not duplicates of each other —
    md5(NULL) is NULL and groupBy treats NULL as a key, so unguarded they
    formed one bogus duplicate group."""
    from valentine_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(0, None), (1, None), (2, "same"), (3, "same")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_duplicates(df).collect()}
    assert out[0]["group_size"] == 1 and not out[0]["is_dup"]
    assert out[1]["group_size"] == 1 and not out[1]["is_dup"]
    assert out[3]["group_size"] == 2 and out[3]["is_dup"]


def test_topk_default_queries_raise_on_sparse_ids(spark):
    """The default query set (id < n) silently returned nothing when ids
    are not dense 0-based; it must raise instead."""
    from valentine_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1000 + i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="pass queries explicitly"):
        cosine_topk(df)


def test_pq_topk_string_ids(spark):
    """pq_topk must support non-integer id columns like the rest of the
    topk family (ids were forced through int())."""
    from valentine_spark.operators.pq import pq_topk

    rows = [(f"doc-{i}", [float(i % 4), float((i * 7) % 5), float(i % 3), 1.0])
            for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    queries = df.limit(2)
    out = pq_topk(df, queries=queries, k=3, m=2, k_sub=2)
    got = out.collect()
    assert got and all(isinstance(r["query_id"], str) for r in got)
    assert all(r["query_id"] != r["vec_id"] for r in got)


def test_csv_encoding_sniff_survives_truncated_utf8(tmp_path):
    """A valid UTF-8 file whose sniff window cuts a multibyte character
    mid-sequence must still detect utf-8, not fall through to cp1252."""
    from valentine_spark.sources.csv import get_encoding

    p = tmp_path / "t.csv"
    body = ("héllo,wörld\n" * 100).encode("utf-8")
    p.write_bytes(body)
    # pick a window that ends one byte into a 2-byte sequence
    cut = body.index("é".encode("utf-8")) + 1
    assert get_encoding(str(p), sniff_bytes=cut) == "utf-8"


def test_interval_join_survives_corrupt_lo_gt_hi(spark):
    """One interval row with lo > hi must not abort the job (Spark's
    sequence() auto-descends and would materialize a huge array); such
    rows can never match and simply produce no buckets."""
    from valentine_spark.operators.interval import interval_join

    points = spark.createDataFrame([(5.0,)], "p double")
    intervals = spark.createDataFrame(
        [(0.0, 10.0, "good"), (1e9, 0.0, "corrupt")],
        "lo double, hi double, tag string",
    )
    rows = interval_join(points, intervals, "p").collect()
    assert [r["tag"] for r in rows] == ["good"]
    with pytest.raises(ValueError, match="bucket_width"):
        interval_join(points, intervals, "p", bucket_width=0.0)


def test_word_shingles_blank_docs_produce_no_rows(spark):
    from valentine_spark.operators.text import word_shingles

    df = spark.createDataFrame(
        [(0, ""), (1, "   \n "), (2, "one two")],
        "doc_id long, text string",
    )
    rows = word_shingles(df, n=1).collect()
    assert sorted((r["doc_id"], r["shingle"]) for r in rows) == [
        (2, "one"), (2, "two"),
    ]


def test_profile_booleans_render_python_style(spark):
    """profile_table stringifies booleans as 'True'/'False' (the
    reference's str(x)), not Spark's 'true'/'false'."""
    from valentine_spark.sources.profiles import profile_table

    df = spark.createDataFrame([(True,), (False,)], "flag boolean")
    vals = {r["value"] for r in profile_table(df, "t").collect()}
    assert vals == {"True", "False"}


def test_distributed_rank_uniform_sampling_on_sorted_input(spark):
    """Split-point sampling must draw from the whole key space even when
    the input is key-clustered: on sorted input an unordered limit sampled
    only the lowest keys, funneling all rows into one bucket."""
    from valentine_spark.utils.ranking import distributed_row_number

    n = 200_000
    df = spark.range(n).orderBy("id").coalesce(4).select(F.col("id").alias("k"))
    ranked = distributed_row_number(df, ["k"], rank_col="r", num_partitions=8)
    rows = ranked.orderBy("k").collect()
    assert [r["r"] for r in rows[:3]] == [1, 2, 3]
    assert rows[-1]["r"] == n


def test_lattice_types_per_column_sniff_and_bool_parity(spark):
    """Date sniffing must use a per-column non-null sample (a shared
    single-row sample left columns null in that row unsniffed), and
    booleans map to the reference's untyped '' (its get_data_type branch
    chain never types bool), not to 'int'."""
    from valentine_spark.types import lattice_types

    df = spark.createDataFrame(
        [("x", None, True), ("y", "2024-01-02", False)],
        "note string, event_date string, flag boolean",
    )
    t = lattice_types(df)
    assert t["event_date"] == "date"  # sniffed despite a null in some row
    assert t["note"] == "varchar"
    assert t["flag"] == ""  # reference parity: bool is untyped


def test_jaccard_fuzzy_handles_separator_in_column_names(spark):
    """Fuzzy matching must survive (and not merge) column names containing
    the old pair-id separator byte."""
    import valentine_spark as V

    src = spark.createDataFrame(
        [("alpha",), ("beta",)], f"`a\x1fb` string"
    )
    tgt = spark.createDataFrame(
        [("alphaX",), ("betaY",)], "name string"
    )
    res = V.JaccardDistanceMatcher(
        distance_fun=V.StringDistanceFunction.Levenshtein, threshold_dist=0.5
    ).get_matches(src, tgt, "s", "t")
    assert res  # produced matches without crashing on the odd name
    assert all(k[0][1] == "a\x1fb" for k in res)


def test_expire_reclaims_success_marker_dirs(spark, tmp_path):
    lake = _mk(spark, tmp_path / "t")
    for i in range(3):
        apply_batch(lake, synth_change_stream(spark, 500, 300, seed=i), f"r{i}")
    lake.compact(min_files=1)
    data_root = os.path.join(str(tmp_path / "t"), "data")
    lake.expire_snapshots(keep_last=1)
    leftovers = [
        d for d in os.listdir(data_root)
        if not any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(os.path.join(data_root, d))
            for f in fs
        )
    ]
    assert leftovers == [], f"orphan marker-only commit dirs survive expiry: {leftovers}"


# -- round-4 session-2 review findings (matchers / codecs / asof) ------------

def test_jpeg_zero_sampling_factor_is_valueerror():
    """A SOF sampling factor of 0 (malformed per T.81 B.2.2) must raise
    ValueError, not ZeroDivisionError — decode_media's dirty-payload
    fallthrough catches only (ValueError, struct.error, IndexError)."""
    import numpy as np
    import pytest

    from valentine_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = np.full((16, 16, 3), 128, dtype=np.uint8)
    data = bytearray(encode_jpeg(img, quality=90, subsampling="444"))
    sof = data.find(b"\xff\xc0")
    assert sof > 0
    data[sof + 11] = 0x00  # first component's h/v sampling nibbles -> 0/0
    with pytest.raises(ValueError, match="sampling factor"):
        decode_jpeg(bytes(data))


def test_jpeg_sos_unknown_component_is_valueerror():
    """An SOS naming a component id the SOF never declared must raise
    ValueError, not StopIteration/RuntimeError (PEP 479)."""
    import numpy as np
    import pytest

    from valentine_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8, 8, 3), 200, dtype=np.uint8)
    data = bytearray(encode_jpeg(img, quality=90, subsampling="444"))
    sos = data.find(b"\xff\xda")
    assert sos > 0
    data[sos + 5] = 0x77  # first scan component selector -> undeclared id
    with pytest.raises(ValueError, match="not in SOF"):
        decode_jpeg(bytes(data))


def test_probe_mp4_audio_trak_first_reports_video_metadata():
    """An MP4 whose audio trak precedes the video trak (legal, common) must
    report the VIDEO track's frame count / codec / dims — not the audio
    track's AAC packet count as n_frames and 'mp4a' as codec."""
    import struct

    from valentine_spark.functions.video_meta import probe_video

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    def trak(handler, w, h, codec, n_samples):
        tkhd = box(b"tkhd", b"\0\0\0\0" + b"\0" * 72
                   + struct.pack(">II", w << 16, h << 16))
        hdlr = box(b"hdlr", b"\0\0\0\0" + b"\0\0\0\0" + handler + b"\0" * 12)
        stsd = box(b"stsd", b"\0\0\0\0" + struct.pack(">I", 1)
                   + box(codec, b"\0" * 16))
        stsz = box(b"stsz", b"\0\0\0\0" + struct.pack(">II", 0, n_samples))
        stbl = box(b"stbl", stsd + stsz)
        return box(b"trak", tkhd + box(b"mdia", hdlr + box(b"minf", stbl)))

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(b"mvhd", b"\0\0\0\0" + struct.pack(">III", 0, 0, 1000)
               + struct.pack(">I", 5000) + b"\0" * 80)
    audio = trak(b"soun", 0, 0, b"mp4a", 43000)
    video = trak(b"vide", 1280, 720, b"avc1", 150)
    meta = probe_video(ftyp + box(b"moov", mvhd + audio + video))
    assert meta == {
        "container": "mp4", "width": 1280, "height": 720,
        "duration_ms": 5000, "n_frames": 150, "fps": 30.0, "codec": "avc1",
    }


def test_asof_join_date_column_nearest_and_tolerance(spark):
    """asof_join on a DATE-typed timestamp column must support nearest /
    tolerance_seconds (DATE refuses a double cast; distances go through
    unix_date)."""
    import datetime as dt

    from valentine_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 10)), (1, dt.date(2024, 3, 1))],
        "k int, d date",
    )
    right = spark.createDataFrame(
        [(1, dt.date(2024, 1, 8), 100.0), (1, dt.date(2024, 1, 12), 200.0)],
        "k int, d date, v double",
    )
    near = {
        r["d"]: r["v_m"]
        for r in asof_join(left, right, on=["k"], left_on="d",
                           direction="nearest", suffix="_m").collect()
    }
    # Jan 10: backward match Jan 8 (dist 2d) == forward Jan 12 (dist 2d)
    # -> tie prefers backward (pandas); Mar 1: nearest is Jan 12
    assert near == {dt.date(2024, 1, 10): 100.0, dt.date(2024, 3, 1): 200.0}

    tol = {
        r["d"]: r["v_m"]
        for r in asof_join(left, right, on=["k"], left_on="d",
                           tolerance_seconds=5 * 86400, suffix="_m").collect()
    }
    # Mar 1's backward match (Jan 12) is 49 days away -> nulled by tolerance
    assert tol == {dt.date(2024, 1, 10): 100.0, dt.date(2024, 3, 1): None}


def test_jaccard_unattainable_threshold_returns_empty(spark):
    """threshold_dist > 1.0: no string pair can reach the similarity bar
    (reference jaccard_distance.py:184-188 — normalized sim <= 1.0), so the
    matcher must return {} rather than silently falling back to exact
    equality counting."""
    import valentine_spark as V

    src = spark.createDataFrame([("alpha",), ("beta",)], "name string")
    tgt = spark.createDataFrame([("alpha",), ("gamma",)], "title string")
    res = V.JaccardDistanceMatcher(
        distance_fun=V.StringDistanceFunction.Levenshtein, threshold_dist=1.2
    ).get_matches(src, tgt, "s", "t")
    assert res == {}


def test_repo_stats_path_cap_floor_semantics():
    """_update_repo_stats: once the distinct-path set hits PATH_SET_CAP,
    n_paths becomes a floor and n_paths_exact flips false — state stays
    O(cap) regardless of per-repo path cardinality."""
    import pandas as pd

    from valentine_spark.streaming import stateful as S

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    big = pd.DataFrame({
        "op": ["insert"] * (S.PATH_SET_CAP + 50),
        "lsn": range(S.PATH_SET_CAP + 50),
        "path": [f"p{i}" for i in range(S.PATH_SET_CAP + 50)],
    })
    (out,) = list(S._update_repo_stats(("r1",), [big], st))
    assert int(out["n_paths"][0]) == S.PATH_SET_CAP
    assert bool(out["n_paths_exact"][0]) is False
    assert len(st.get[-1]) == S.PATH_SET_CAP  # state array capped

    # under the cap stays exact and accumulates across batches
    st2 = FakeState()
    a = pd.DataFrame({"op": ["insert", "update"], "lsn": [1, 2], "path": ["x", "y"]})
    b = pd.DataFrame({"op": ["delete"], "lsn": [3], "path": ["y"]})
    list(S._update_repo_stats(("r2",), [a], st2))
    (out2,) = list(S._update_repo_stats(("r2",), [b], st2))
    assert int(out2["n_paths"][0]) == 2 and bool(out2["n_paths_exact"][0]) is True


def test_language_id_null_text_is_unknown(spark):
    """language_id on a NULL text row must emit pred_lang='unknown' (the
    oracle's CASE chain and the Spark when-chain agree explicitly; the
    Spark side previously fell through to NULL while the oracle's ELSE
    arm emitted 'es')."""
    from valentine_spark.operators import language_id

    df = spark.createDataFrame(
        [(1, "the and of water house"), (2, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert rows[1] == "en"
    assert rows[2] == "unknown"

    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT 1::BIGINT AS doc_id, "
                "'the and of water house' AS text UNION ALL SELECT 2, NULL")
    orows = {r[0]: r[-1] for r in con.execute(E._langid_oracle_sql()).fetchall()}
    assert orows == {1: "en", 2: "unknown"}


def test_ivm_minmax_intra_window_extreme_retraction(spark, tmp_path):
    """A group created AND churned within one window nets out correctly.
    NOTE: the lake's changelog is an ENDPOINT diff, so a key inserted and
    deleted inside one window contributes no change row at all — this test
    pins that netting; the trigger-against-merged-candidate logic is
    exercised directly (with a multi-op changelog the endpoint diff cannot
    produce) in test_ivm_minmax_multiop_changelog_trigger below."""
    from valentine_spark.cdc import (
        LakeTable, apply_batch, init_aggregate, maintain_aggregate,
        synth_change_stream,
    )

    lake = LakeTable.create(str(tmp_path / "mmw"), spark, n_buckets=2)
    # bootstrap: ONE unrelated group so prev is non-empty but lacks 'g'
    apply_batch(lake, spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "upsert", "other", "p0", "c", "x", "zz")],
        "lsn long, op_ts string, op string, repo string, path string, "
        "`commit` string, lang string, content string",
    ).withColumn("op_ts", F.col("op_ts").cast("timestamp")), "b0")
    measures = {"mn": ("min", "clen"), "mx": ("max", "clen")}

    def prep(df):
        out = df.withColumn("clen", F.length(F.coalesce(F.col("content"), F.lit(""))))
        if "_before_content" in df.columns:
            out = out.withColumn(
                "_before_clen", F.length(F.coalesce(F.col("_before_content"), F.lit("")))
            )
        return out

    agg = init_aggregate(prep(lake.read()), ["repo"], measures)
    v = lake.version
    # window: group 'g' gets len-1 (k1) and len-3 (k2); then k1 (the min,
    # len 1) is deleted — correct final min is 3, not 1
    w = spark.createDataFrame(
        [
            (10, "2024-01-02 00:00:00", "upsert", "g", "k1", "c", "x", "a"),
            (11, "2024-01-02 00:00:01", "upsert", "g", "k2", "c", "x", "abc"),
            (12, "2024-01-02 00:00:02", "delete", "g", "k1", "c", "x", None),
        ],
        "lsn long, op_ts string, op string, repo string, path string, "
        "`commit` string, lang string, content string",
    ).withColumn("op_ts", F.col("op_ts").cast("timestamp"))
    apply_batch(lake, w, "b1")
    chg = prep(lake.changes(v, include_before=True))
    rolled = maintain_aggregate(agg, chg, ["repo"], measures, base=prep(lake.read()))
    got = {r["repo"]: (r["mn"], r["mx"]) for r in rolled.collect()}
    assert got["g"] == (3, 3), got
    assert got["other"] == (2, 2)


def test_ivm_minmax_multiop_changelog_trigger(spark):
    """The rescan trigger must compare retractions against the MERGED
    candidate (prev ⊕ window inserts) via OUTER joins: with a multi-op
    changelog (insert 5, insert 7, delete-the-5 for a group ABSENT from
    prev), an inner join with prev never fires and least(NULL, adds)=5
    would keep the deleted value.  maintain_aggregate accepts any
    changelog-shaped frame, so non-endpoint streams (raw WAL retraction
    streams, stacked windows) hit this path for real."""
    from valentine_spark.cdc.ivm import maintain_aggregate

    prev = spark.createDataFrame(
        [("other", 1, 9, 9)], "g string, _n long, mn int, mx int"
    )
    chg = spark.createDataFrame(
        [
            ("insert", "g", 5, None, None),
            ("insert", "g", 7, None, None),
            ("delete", "g", None, 5, "g"),
        ],
        "change_op string, g string, v int, _before_v int, _before_g string",
    )
    base = spark.createDataFrame(
        [("g", 7), ("other", 9)], "g string, v int"
    )
    rolled = maintain_aggregate(
        prev, chg, ["g"], {"mn": ("min", "v"), "mx": ("max", "v")}, base=base
    )
    got = {r["g"]: (r["mn"], r["mx"]) for r in rolled.collect()}
    assert got["g"] == (7, 7), got  # the deleted 5 must NOT survive
    assert got["other"] == (9, 9)


def test_ivm_count_col_counts_non_null_only(spark, tmp_path):
    """('count', col) follows SQL count(col): NULL values don't count, in
    both the bootstrap aggregate and the delta rules."""
    from valentine_spark.cdc import (
        LakeTable, apply_batch, init_aggregate, maintain_aggregate,
    )

    def ev(lsn, op, path, content):
        return (lsn, "2024-01-01 00:00:00", op, "r", path, "c", "x", content)

    schema = ("lsn long, op_ts string, op string, repo string, path string, "
              "`commit` string, lang string, content string")
    lake = LakeTable.create(str(tmp_path / "cnt"), spark, n_buckets=2)
    apply_batch(lake, spark.createDataFrame(
        [ev(1, "upsert", "p1", "abc"), ev(2, "upsert", "p2", None)], schema
    ).withColumn("op_ts", F.col("op_ts").cast("timestamp")), "b0")
    measures = {"n_docs": ("count", None), "n_content": ("count", "content")}
    agg = init_aggregate(lake.read(), ["repo"], measures)
    r0 = agg.collect()[0]
    assert (r0["n_docs"], r0["n_content"]) == (2, 1)
    v = lake.version
    # delta: add a NULL-content row, update p1's content away (non-null ->
    # non-null, net 0), delete the NULL-content p2 (net 0 for n_content)
    apply_batch(lake, spark.createDataFrame(
        [ev(3, "upsert", "p3", None), ev(4, "upsert", "p1", "xy"),
         ev(5, "delete", "p2", None)], schema
    ).withColumn("op_ts", F.col("op_ts").cast("timestamp")), "b1")
    chg = lake.changes(v, include_before=True)
    rolled = maintain_aggregate(agg, chg, ["repo"], measures)
    r1 = rolled.collect()[0]
    fresh = init_aggregate(lake.read(), ["repo"], measures).collect()[0]
    assert (r1["n_docs"], r1["n_content"]) == (fresh["n_docs"], fresh["n_content"]) == (2, 1)


def test_merge_into_rejects_null_keys_even_assume_unique(spark, tmp_path):
    """assume_unique=True skips only the uniqueness aggregation — a NULL
    key still raises (the file-prune confirm join is a plain equi-join, so
    a NULL-keyed row would insert a duplicate on every replay)."""
    import pytest

    from valentine_spark.cdc import LakeTable
    from valentine_spark.cdc.merge_into import MergeCardinalityError

    lake = LakeTable.create(str(tmp_path / "mnull"), spark, n_buckets=2)
    src = spark.createDataFrame(
        [("r", None, "c", "x", "body")],
        "repo string, path string, `commit` string, lang string, content string",
    )
    with pytest.raises(MergeCardinalityError, match="NULL key"):
        (lake.merge_into(src).when_not_matched_insert()
             .execute(assume_unique=True))


def test_zorder_nonfinite_double_does_not_collapse_dimension(spark):
    """One NaN/inf in a clustered double column must not flatten the
    dimension: finite rows keep distinct keys, NaN keys to the top, ±inf
    clamp to the bounds."""
    from valentine_spark.cdc.clustering import zorder_column

    df = spark.createDataFrame(
        [(0.0, 1), (100.0, 1), (float("nan"), 1), (float("inf"), 1),
         (float("-inf"), 1), (50.0, 1)],
        "score double, k int",
    )
    z = df.select(F.col("score"), zorder_column(df, ["score", "k"], df.schema).alias("z"))
    rows = {r["score"]: r["z"] for r in z.collect()}
    finite = [rows[0.0], rows[50.0], rows[100.0]]
    assert len(set(finite)) == 3, f"finite keys collapsed: {rows}"
    assert finite == sorted(finite)
    import math
    nan_key = [v for k, v in rows.items() if isinstance(k, float) and math.isnan(k)][0]
    assert nan_key == rows[100.0]  # NaN sorts greatest -> top bound
    assert rows[float("inf")] == rows[100.0]
    assert rows[float("-inf")] == rows[0.0]


def test_open_or_create_recovers_crashed_create(spark, tmp_path):
    """open_or_create: opens an existing table even when create() crashed
    before writing CURRENT (any snapshot json = a table), creates fresh
    otherwise, and never re-creates over data."""
    import os

    from valentine_spark.cdc import LakeTable, apply_batch, synth_change_stream

    root = str(tmp_path / "oc")
    t1 = LakeTable.open_or_create(root, spark, n_buckets=2)
    apply_batch(t1, synth_change_stream(spark, 100, 30, seed=7), "b0")
    v = t1.version
    # simulate a create() crash artifact: CURRENT missing but v*.json present
    os.remove(os.path.join(root, "metadata", "CURRENT"))
    t2 = LakeTable.open_or_create(root, spark, n_buckets=2)
    assert t2.version == v  # opened + pointer recovered, not re-created


def test_zorder_null_double_keys_to_origin(spark):
    """NULL float/double rows must key to the origin (coalesce-to-0), not
    get turned into the max by the non-finite clamp (least/greatest skip
    NULLs, so an unguarded clamp yields mx for NULL input)."""
    from valentine_spark.cdc.clustering import zorder_column

    df = spark.createDataFrame(
        [(0.0, 1), (100.0, 1), (None, 1), (50.0, 1)], "score double, k int"
    )
    z = df.select("score", zorder_column(df, ["score", "k"], df.schema).alias("z"))
    rows = {r["score"]: r["z"] for r in z.collect()}
    assert rows[None] == rows[0.0], rows  # origin, with the min-bound rows
    assert rows[None] != rows[100.0]


def test_probe_mp4_quicktime_data_handler_does_not_clobber_vide():
    """QuickTime layout: mdia/hdlr says 'vide', then minf carries a DATA
    handler hdlr ('alis') at the same byte offset — first hdlr must win or
    the video trak is misclassified and all metadata dropped."""
    import struct

    from valentine_spark.functions.video_meta import probe_video

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    tkhd = box(b"tkhd", b"\0\0\0\0" + b"\0" * 72
               + struct.pack(">II", 640 << 16, 480 << 16))
    hdlr_media = box(b"hdlr", b"\0\0\0\0" + b"\0\0\0\0" + b"vide" + b"\0" * 12)
    hdlr_data = box(b"hdlr", b"\0\0\0\0" + b"\0\0\0\0" + b"alis" + b"\0" * 12)
    stsd = box(b"stsd", b"\0\0\0\0" + struct.pack(">I", 1) + box(b"avc1", b"\0" * 16))
    stsz = box(b"stsz", b"\0\0\0\0" + struct.pack(">II", 0, 240))
    minf = box(b"minf", hdlr_data + box(b"stbl", stsd + stsz))
    trak = box(b"trak", tkhd + box(b"mdia", hdlr_media + minf))
    mvhd = box(b"mvhd", b"\0\0\0\0" + struct.pack(">III", 0, 0, 1000)
               + struct.pack(">I", 8000) + b"\0" * 80)
    ftyp = box(b"ftyp", b"qt  " + struct.pack(">I", 512) + b"qt  ")
    meta = probe_video(ftyp + box(b"moov", mvhd + trak))
    assert (meta["width"], meta["height"], meta["codec"], meta["n_frames"]) == (
        640, 480, "avc1", 240
    )


def test_repo_stats_accepts_pre_paths_checkpoint_state():
    """A 5-field state tuple (checkpoint written before the paths field)
    must be adopted, not crash with a tuple-unpack error: counters carry
    over and the path set restarts empty (documented migration floor)."""
    import pandas as pd

    from valentine_spark.streaming import stateful as S

    class FakeState:
        def __init__(self, v):
            self._v = v
            self.exists = v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState((10, 4, 3, 3, 99))  # legacy 5-field state
    pdf = pd.DataFrame({"op": ["insert"], "lsn": [100], "path": ["pX"]})
    (out,) = list(S._update_repo_stats(("r",), [pdf], st))
    assert int(out["n_events"][0]) == 11 and int(out["max_lsn"][0]) == 100
    assert int(out["n_paths"][0]) == 1  # floor restarts from post-upgrade paths
    assert len(st.get) == 6  # state re-written in the new shape
