"""The north-rule deployment contract: the engine runs via
``spark-submit --py-files dist/valentine_spark.zip`` (BASELINE.json:
"runs via spark-submit --py-files on multi-executor clusters").

These tests build the real zip with ``jobs/package.py`` and drive the two
shipped entry points as genuine ``spark-submit`` subprocesses from a
NEUTRAL working directory — so the package must resolve from the zip, not
from the repo checkout — then assert the full loop end-to-end: replay
ingests, a re-run with --resume is a no-op (exactly-once at the deployment
boundary), and the mirror job converges to the source's state checksum.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def _submit(job: str, *args: str, cwd: str) -> list:
    """Run one spark-submit job; return the parsed JSON lines it printed."""
    env = dict(os.environ)
    # the zip must be the ONLY way to import valentine_spark
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            SPARK_SUBMIT, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", os.path.join(REPO, "dist", "valentine_spark.zip"),
            os.path.join(REPO, "jobs", job), *args,
        ],
        capture_output=True, text=True, timeout=600, cwd=cwd, env=env,
    )
    assert out.returncode == 0, f"{job} failed:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}"
    lines = []
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            lines.append(json.loads(line))
    assert lines, f"{job} printed no JSON:\n{out.stdout[-2000:]}"
    return lines


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_replay_mirror_loop(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        import package as pkg
    finally:
        sys.path.pop(0)
    zip_path = pkg.build(REPO)
    assert os.path.exists(zip_path)

    lake = str(tmp_path / "lake")
    work = str(tmp_path / "cwd")
    os.makedirs(work)

    # 1. ingest entry point
    replay = _submit(
        "replay_job.py", "--lake", lake, "--events", "3000",
        "--batch-lsns", "1000", "--n-buckets", "4", cwd=work,
    )[-1]
    assert replay["commits"] >= 2 and replay["rows"] > 0
    assert replay["events_total"] == 3000

    # 2. re-run with --resume: the deployment boundary is exactly-once —
    # resume filters already-applied LSNs by watermark, so the re-run
    # commits nothing and the state is byte-identical
    resumed = _submit(
        "replay_job.py", "--lake", lake, "--events", "3000",
        "--batch-lsns", "1000", "--n-buckets", "4", "--resume", cwd=work,
    )[-1]
    assert resumed["commits"] == 0
    assert resumed["checksum"] == replay["checksum"]
    assert resumed["version"] == replay["version"]

    # 3. consumer entry point: mirror converges to the source checksum
    mirror = _submit(
        "mirror_job.py", "--source", lake, "--target", str(tmp_path / "mirror"),
        "--checkpoint", str(tmp_path / "ckpt"), "--max-polls", "0", cwd=work,
    )[-1]
    assert mirror["deliveries_applied"] >= 1
    assert mirror["mirror_checksum"] == replay["checksum"]
    assert mirror["mirror_rows"] == replay["rows"]
    assert mirror["mirror_position"] == replay["version"]

    # 4. consumer entry point, declarative form: the native source -> sink
    # streaming pipeline (--mode streaming) converges to the same checksum
    smirror = _submit(
        "mirror_job.py", "--source", lake,
        "--target", str(tmp_path / "smirror"),
        "--checkpoint", str(tmp_path / "sckpt"),
        "--max-polls", "0", "--mode", "streaming", cwd=work,
    )[-1]
    assert smirror["mode"] == "streaming"
    assert smirror["mirror_checksum"] == replay["checksum"]
    assert smirror["mirror_rows"] == replay["rows"]

    # 5. multi-table WAL routing entry point: one envelope stream fans out
    # to two lakes; re-run is a per-(slice, table) no-op
    routed = _submit(
        "route_job.py", "--lake-root", str(tmp_path / "routed"),
        "--events", "3000", "--n-tables", "2", "--batch-lsns", "1000",
        "--n-buckets", "4", cwd=work,
    )[-1]
    assert set(routed["tables"]) == {"t0", "t1"}
    assert all(t["rows"] > 0 for t in routed["tables"].values())
    assert routed["commits"] >= 2 and routed["dead_letters"] == {}
    assert routed["events_total"] == 3000
    rerun = _submit(
        "route_job.py", "--lake-root", str(tmp_path / "routed"),
        "--events", "3000", "--n-tables", "2", "--batch-lsns", "1000",
        "--n-buckets", "4", cwd=work,
    )[-1]
    assert rerun["commits"] == 0 and rerun["skipped"] >= 2
    assert rerun["tables"] == routed["tables"]

    # 6. streaming mode of the routing entry point: availableNow catch-up
    # over a jsonl drop zone, then a checkpointed re-run is a no-op
    import json as _json
    import time as _time

    drop = tmp_path / "drop"
    drop.mkdir()
    lines = []
    for i in range(40):
        tname = "t0" if i % 2 == 0 else "t1"
        lines.append(_json.dumps({
            "database": "gh", "table": tname, "type": "insert",
            "ts": 1_700_000_000 + i, "xid": i,
            "position": f"mysql-bin.000001:{i + 1}",
            "data": {"repo": f"r{i % 3}", "path": f"p{i}", "commit": "head",
                     "lang": "py", "content": f"c{i}"},
        }))
    f = drop / "a.jsonl"
    f.write_text("\n".join(lines) + "\n")
    os.utime(f, (_time.time(), _time.time()))
    cfg = tmp_path / "tables.json"
    ddl = "repo string, path string, commit string, lang string, content string"
    cfg.write_text(_json.dumps({"t0": ddl, "t1": ddl}))
    s1 = _submit(
        "route_job.py", "--lake-root", str(tmp_path / "srouted"),
        "--raw-path", str(drop), "--raw-format", "text",
        "--tables-config", str(cfg), "--mode", "streaming",
        "--checkpoint", str(tmp_path / "route_ckpt"),
        "--n-buckets", "4", cwd=work,
    )[-1]
    assert s1["mode"] == "streaming"
    assert s1["tables"]["t0"]["rows"] == 20 and s1["tables"]["t1"]["rows"] == 20
    s2 = _submit(
        "route_job.py", "--lake-root", str(tmp_path / "srouted"),
        "--raw-path", str(drop), "--raw-format", "text",
        "--tables-config", str(cfg), "--mode", "streaming",
        "--checkpoint", str(tmp_path / "route_ckpt"),
        "--n-buckets", "4", cwd=work,
    )[-1]
    assert s2["tables"] == s1["tables"]


@pytest.mark.parametrize("mode, max_polls", [("streaming", "0"), ("follower", "3")])
def test_mirror_job_rejects_version_cap_it_cannot_honour(tmp_path, mode, max_polls):
    """--max-versions-per-batch bounds only processingTime micro-batches of
    the streaming mode: an availableNow catch-up runs one unbounded batch
    and the follower never reads the cap, so both fail at argument parsing
    (exit 2) instead of silently running uncapped."""
    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "mirror_job.py"),
            "--source", str(tmp_path / "src"), "--target", str(tmp_path / "dst"),
            "--checkpoint", str(tmp_path / "ckpt"), "--mode", mode,
            "--max-polls", max_polls, "--max-versions-per-batch", "2",
        ],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 2
    assert "--max-versions-per-batch only bounds" in out.stderr
    assert not (tmp_path / "dst").exists()
