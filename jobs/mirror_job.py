#!/usr/bin/env python
"""spark-submit entry point for the changelog-consumer side (the downstream
half of the CDC loop — ``jobs/replay_job.py`` is the ingest half):

    python jobs/package.py                       # -> dist/valentine_spark.zip
    spark-submit --py-files dist/valentine_spark.zip jobs/mirror_job.py \
        --source /path/to/src_lake --target /path/to/mirror_lake \
        --checkpoint /path/to/follower_ckpt \
        [--poll-seconds 30] [--max-polls 0] [--compact-threshold 16]

Tails the source lake's changelog with a checkpointed follower and applies
each delivery to the target via token-keyed MERGE — exactly-once end to end
(crash anywhere; re-run resumes from the checkpoint, replayed deliveries
are no-ops at the target).  ``--max-polls 0`` runs a single catch-up and
exits (cron-style); a positive value loops with ``--poll-seconds`` sleeps
between empty polls (daemon-style).  ``--compact-threshold`` runs the
target's bounded-read-amplification compaction policy after each applied
delivery.

``--mode streaming`` swaps the imperative follower loop for the DECLARATIVE
pipeline (the native ``lake_changes`` source piped into the native ``lake``
streaming sink, ``streaming/lake_sink.py``): Spark's own checkpoint carries
the offset, the sink's applied-batch-id manifest de-duplicates replays, and
micro-batch cadence comes from the trigger (``--max-polls 0`` → one
availableNow catch-up then exit; otherwise a continuous processingTime
trigger of ``--poll-seconds``).  Same exactly-once contract, zero custom
poll-loop code on the driver.  ``--max-versions-per-batch`` caps the
processingTime micro-batches only; with ``--max-polls 0`` it is rejected,
because an availableNow trigger runs one unbounded micro-batch.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--source", required=True)
    parser.add_argument("--target", required=True)
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument("--consumer-id", default="mirror")
    parser.add_argument("--n-buckets", type=int, default=64)
    parser.add_argument("--poll-seconds", type=float, default=30.0)
    parser.add_argument("--max-polls", type=int, default=0,
                        help="0 = one catch-up pass, then exit")
    parser.add_argument("--compact-threshold", type=int, default=0,
                        help="0 = never auto-compact the target")
    parser.add_argument("--mode", choices=("follower", "streaming"),
                        default="follower",
                        help="follower = imperative poll loop (default); "
                        "streaming = declarative lake_changes -> lake sink "
                        "pipeline on Spark's own checkpoint")
    parser.add_argument("--max-versions-per-batch", type=int, default=0,
                        help="streaming mode with --max-polls > 0: source "
                        "admission control — bound each steady-state "
                        "micro-batch to N lake versions (0 = uncapped; the "
                        "first batch after a restart is always uncapped, "
                        "see lake_source.py)")
    args = parser.parse_args()
    if args.max_versions_per_batch and (
        args.mode != "streaming" or args.max_polls == 0
    ):
        # availableNow runs one micro-batch over the whole catch-up: the
        # Python data source API has no availableNow hook to honour the cap
        parser.error(
            "--max-versions-per-batch only bounds the processingTime "
            "micro-batches of --mode streaming with --max-polls > 0; the "
            "follower mode never reads it, and the --max-polls 0 catch-up "
            "runs trigger(availableNow=True), which ignores it"
        )

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("valentine-cdc-mirror").getOrCreate()

    from valentine_spark.cdc import ChangelogFollower, LakeTable, apply_delivery

    source = LakeTable(args.source, spark)
    target = LakeTable.open_or_create(args.target, spark, n_buckets=args.n_buckets)

    if args.mode == "streaming":
        from valentine_spark.sources.lake_batch import register_lake
        from valentine_spark.streaming.lake_sink import prepare_lake_sink
        from valentine_spark.streaming.lake_source import register_lake_changes

        register_lake(spark)
        register_lake_changes(spark)
        reader = spark.readStream.format("lake_changes")
        if args.max_versions_per_batch:
            reader = reader.option(
                "maxVersionsPerBatch", str(args.max_versions_per_batch)
            )
        writer = (
            prepare_lake_sink(reader.load(source.root), target.root)
            .writeStream.format("lake")
            .option("path", target.root)
            .option("checkpointLocation", args.checkpoint)
        )
        if args.max_polls == 0:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = writer.trigger(
                processingTime=f"{args.poll_seconds} seconds"
            ).start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
        if args.compact_threshold:
            target.compact_if_needed(args.compact_threshold)
        state = target.state_checksum()
        print(json.dumps({
            "mode": "streaming",
            "source_version": source.version,
            "mirror_version": target.version,
            "mirror_rows": state["rows"],
            "mirror_checksum": str(state["checksum"]),
        }))
        return

    follower = ChangelogFollower(
        source, args.checkpoint, consumer_id=args.consumer_id
    )
    applied = 0
    polls = 0
    while True:
        d = follower.poll()
        if d is not None:
            commit = apply_delivery(target, d)
            follower.commit(d)
            applied += 1
            if args.compact_threshold:
                target.compact_if_needed(args.compact_threshold)
            print(json.dumps({"delivery": d.token,
                              "skipped": bool(commit.get("skipped")),
                              "target_version": target.version}))
        polls += 1
        if args.max_polls == 0 and d is None:
            break
        if args.max_polls and polls >= args.max_polls:
            break
        if d is None:
            time.sleep(args.poll_seconds)

    state = target.state_checksum()
    print(json.dumps({
        "deliveries_applied": applied,
        "source_version": source.version,
        "mirror_position": follower.position,
        "mirror_rows": state["rows"],
        "mirror_checksum": str(state["checksum"]),
    }))


if __name__ == "__main__":
    main()
