"""The lake's single commit and IO paths stay single.

No JVM: reads the package source and counts the primitives that must each
live in exactly one place — the put-if-absent link and the temp-file rename
(the two metadata writers, ``_put_json_if_absent`` and ``_replace_json``),
the bucketed parquet writer (``_write_buckets``), the manifest name
(``_commit_buckets``) and the install-retry loop (``_commit``).  A second
copy of any of them is a second commit or IO path that the crash-safety
argument in ``cdc/lake.py`` does not cover."""

import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "valentine_spark"
SINGLE = (
    "os.link(",
    "os.replace(",
    ".partitionBy(BUCKET_COL)",
    'f"metadata/m-',
    "range(_INSTALL_ATTEMPTS)",
)


def test_single_commit_and_io_paths():
    hits = {needle: [] for needle in SINGLE}
    for path in sorted(PKG.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            for needle in SINGLE:
                if needle in line:
                    hits[needle].append(f"{path.relative_to(PKG.parent)}:{no}")
    wrong = {needle: where for needle, where in hits.items() if len(where) != 1}
    assert not wrong, f"each must appear exactly once under valentine_spark/: {wrong}"
