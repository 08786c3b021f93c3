"""Deterministic conflict injection for every bucket-rewriting commit.

``tests/test_concurrency.py`` races real threads, so which branch of the
rebase protocol runs is up to the scheduler.  Here the interleaving is
forced: on the operation's first snapshot install, a second handle lands
exactly one commit, then the install proceeds (and loses the race).  What
must hold for each operation:

* an interleaved commit in a bucket the body did NOT read rebases the
  already-staged work — one lost install, no body re-run;
* an interleaved commit in a bucket the body DID read re-runs the body
  exactly once;
* either way the final state equals the serial order (interleaved commit,
  then the operation).

A merge-on-read merge reads no bucket, so even a commit into the bucket it
writes rebases it.  Metadata-only commits (``alter_properties``,
``rename_column``) re-derive against the winner's snapshot: they rebase
and never re-run either.
``rebucket`` reads the whole table: any interleaved commit invalidates it,
and the conflict surfaces to the caller, whose re-run then lands.

The table is tiny (4 buckets, 24 rows, one file per bucket) and keeps
bucket 3 empty, so "elsewhere" commits land in a bucket no operation below
reads.  Every batch touches at least half of a bucket's rows, so MERGE's
density gate skips the match-confirm job and each case stays a few jobs.
"""

import hashlib
import shutil

import pytest
from pyspark.sql import functions as F

from valentine_spark.cdc import CommitConflictError, LakeTable
from valentine_spark.cdc.lake import bucket_expr

N_BUCKETS = 4
SCHEMA = "repo string, path string, commit string, lang string, content string"
LANGS = ("py", "go", "rs")


@pytest.fixture(scope="module")
def keys_by_bucket(spark):
    cand = [(f"r{i % 7}", f"p{i}", "c0") for i in range(200)]
    rows = (
        spark.createDataFrame(cand, "repo string, path string, commit string")
        .select("repo", "path", "commit", bucket_expr(N_BUCKETS).alias("b"))
        .collect()
    )
    out = {b: [] for b in range(N_BUCKETS)}
    for r in rows:
        out[int(r["b"])].append((r["repo"], r["path"], r["commit"]))
    return out


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory, keys_by_bucket):
    """(table root, key -> (lang, content)): 8 rows in each of buckets
    0-2, bucket 3 empty."""
    rows = {
        k: (LANGS[i % 3], f"v0-{k[1]}")
        for b in (0, 1, 2)
        for i, k in enumerate(keys_by_bucket[b][:8])
    }
    root = str(tmp_path_factory.mktemp("rebase") / "base")
    lake = LakeTable.create(root, spark, n_buckets=N_BUCKETS)
    lake.merge(_df(spark, rows), _keys(spark, []), "base")
    return root, rows


def _df(spark, rows):
    return spark.createDataFrame([(*k, *v) for k, v in rows.items()], SCHEMA)


def _keys(spark, keys):
    return spark.createDataFrame(list(keys), "repo string, path string, commit string")


def _checksum(rows):
    """``LakeTable.state_checksum`` computed over a Python row dict."""
    total = 0
    for key, (_lang, content) in rows.items():
        h = hashlib.sha256("\x1f".join([*key, content or ""]).encode()).hexdigest()
        total += int(h[:15], 16)
    return {"rows": len(rows), "checksum": total}


# -- the operations: (run it on the table, apply it to the row oracle) -------

def _batch(keys_by_bucket, rows):
    """A bucket-0 batch: 4 updates, 2 inserts, 2 deletes."""
    live = [k for k in keys_by_bucket[0] if k in rows]
    fresh = [k for k in keys_by_bucket[0] if k not in rows]
    ups = {k: ("py", f"op-{k[1]}") for k in live[:4] + fresh[:2]}
    return ups, live[4:6]


def _merge(mode):
    def run(lake, spark, kb, rows):
        ups, dels = _batch(kb, rows)
        lake.merge(
            _df(spark, ups), _keys(spark, dels), "op", mode=mode, changed_buckets=[0]
        )

    def oracle(kb, rows):
        ups, dels = _batch(kb, rows)
        out = {**rows, **ups}
        for k in dels:
            out.pop(k, None)
        return out

    return run, oracle


def _compact():
    def run(lake, spark, kb, rows):
        lake.compact(buckets=[0], min_files=1)

    return run, lambda kb, rows: dict(rows)


def _delete_where():
    def run(lake, spark, kb, rows):
        lake.delete_where([("lang", "=", "go")])

    return run, lambda kb, rows: {k: v for k, v in rows.items() if v[0] != "go"}


def _merge_into():
    def source(kb, rows):
        live = [k for k in kb[0] if k in rows]
        fresh = [k for k in kb[0] if k not in rows]
        return {k: ("py", f"mi-{k[1]}") for k in live[:4] + fresh[:2]}

    def run(lake, spark, kb, rows):
        (
            lake.merge_into(_df(spark, source(kb, rows)))
            .when_matched_update({"content": F.col("s.content")})
            .when_not_matched_insert()
            .execute(batch_id="op", assume_unique=True)
        )

    def oracle(kb, rows):
        out = dict(rows)
        for k, (lang, content) in source(kb, rows).items():
            out[k] = (out[k][0], content) if k in out else (lang, content)
        return out

    return run, oracle


def _rebucket():
    def run(lake, spark, kb, rows):
        lake.rebucket(2 * N_BUCKETS)

    return run, lambda kb, rows: dict(rows)


def _rename_column():
    def run(lake, spark, kb, rows):
        lake.rename_column("lang", "language")
        assert "language" in lake.schema.fieldNames()

    return run, lambda kb, rows: dict(rows)


def _alter_properties():
    def run(lake, spark, kb, rows):
        lake.alter_properties(set={"owner": "ops"})
        assert lake.properties() == {"owner": "ops"}

    return run, lambda kb, rows: dict(rows)


OPS = {
    "cow_merge": _merge("cow"),
    "mor_merge": _merge("mor"),
    "compact": _compact(),
    "delete_where": _delete_where(),
    "merge_into": _merge_into(),
    "rebucket": _rebucket(),
    "alter_properties": _alter_properties(),
    "rename_column": _rename_column(),
}


def _interleaved(kb, where):
    """(run it through the second handle, apply it to the row oracle) for
    the interleaved commit: a COW insert into bucket 3 (``elsewhere``,
    never read), or an ``update_where`` rewriting buckets 0-2 (``same``:
    bucket 0 is read by every operation but the MoR merge).  Neither
    touches a row any operation's predicate matches."""
    if where == "elsewhere":
        row = {kb[3][0]: ("js", "other")}

        def run(other, spark):
            other.merge(_df(spark, row), _keys(spark, []), "other", changed_buckets=[3])

        return run, lambda rows: {**rows, **row}

    def run(other, spark):
        other.update_where([("lang", "=", "rs")], {"content": "other"}, batch_id="other")

    return run, lambda rows: {
        k: (lang, "other" if lang == "rs" else c) for k, (lang, c) in rows.items()
    }


@pytest.mark.parametrize(
    "op, where, body_retries",
    [
        ("cow_merge", "elsewhere", 0),
        ("cow_merge", "same", 1),
        ("mor_merge", "same", 0),  # nothing read: rebases, never re-runs
        ("compact", "elsewhere", 0),
        ("compact", "same", 1),
        ("delete_where", "elsewhere", 0),
        ("delete_where", "same", 1),
        ("merge_into", "elsewhere", 0),
        ("merge_into", "same", 1),
        ("rebucket", "elsewhere", None),  # None: the conflict surfaces
        ("alter_properties", "same", 0),  # metadata-only: re-derives, never re-runs
        ("rename_column", "same", 0),
    ],
)
def test_interleaved_commit_rebases_or_reruns(
    spark, tmp_path, monkeypatch, base, keys_by_bucket, op, where, body_retries
):
    src_root, rows = base
    root = str(tmp_path / "t")
    shutil.copytree(src_root, root)
    lake = LakeTable(root, spark)
    other = LakeTable(root, spark)
    # install_retries: lost snapshot installs; body_retries: re-runs of an
    # operation's body beyond its first call
    stats: dict = {}

    def bump(key):
        stats[key] = stats.get(key, 0) + 1

    run_other, other_oracle = _interleaved(keys_by_bucket, where)
    real_install = LakeTable._try_install_snapshot
    real_retry_body = LakeTable._retry_body
    fired = []

    def install(self, meta):
        if self is lake and not fired:
            fired.append(meta["version"])
            run_other(other, spark)
        installed = real_install(self, meta)
        if not installed:
            bump("install_retries")
        return installed

    def retry_body(self, body):
        calls = []

        def counted():
            if calls and self is lake:
                bump("body_retries")
            calls.append(1)
            return body()

        return real_retry_body(self, counted)

    monkeypatch.setattr(LakeTable, "_try_install_snapshot", install)
    monkeypatch.setattr(LakeTable, "_retry_body", retry_body)
    run, oracle = OPS[op]
    if body_retries is None:
        with pytest.raises(CommitConflictError):
            run(lake, spark, keys_by_bucket, rows)
        assert stats == {"install_retries": 1}
        run(lake, spark, keys_by_bucket, rows)  # the caller's re-run
    else:
        run(lake, spark, keys_by_bucket, rows)
        assert stats.get("install_retries", 0) == 1
        assert stats.get("body_retries", 0) == body_retries
    assert fired, "the operation never reached a snapshot install"

    serial = oracle(keys_by_bucket, other_oracle(rows))
    assert lake.state_checksum() == _checksum(serial)
    assert lake.is_applied("other")
