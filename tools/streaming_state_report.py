"""Generate STREAMING.md: run the live Structured Streaming pipelines
against the events table split into micro-batches and record the
state-store metrics (`StreamingQueryProgress.stateOperators`) that prove
watermark eviction bounds state — the property that lets each operator run
indefinitely on an unbounded stream.

Usage: python tools/streaming_state_report.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_entregas_pyspark_spark.session import build_session  # noqa: E402

N_FILES = 8  # micro-batches per run (one file per trigger)


def _progress_rows(query):
    """(batch_id, watermark, [(numRowsTotal, numRowsUpdated, numRowsRemoved,
    memoryUsedBytes) per state operator]) for each micro-batch."""
    rows = []
    for p in query.recentProgress:
        ops = [
            (
                o["numRowsTotal"],
                o["numRowsUpdated"],
                o.get("numRowsRemoved", 0),
                o["memoryUsedBytes"],
            )
            for o in p["stateOperators"]
        ]
        if ops:
            rows.append((p["batchId"], p["eventTime"].get("watermark", "-"), ops))
    return rows


def _fmt_table(rows, title, note):
    out = [f"### {title}", "", note, "", "| batch | watermark | state rows | updated | removed | state bytes |", "|---|---|---|---|---|---|"]
    for batch_id, wm, ops in rows:
        total = sum(o[0] for o in ops)
        upd = sum(o[1] for o in ops)
        rem = sum(o[2] for o in ops)
        mem = sum(o[3] for o in ops)
        out.append(f"| {batch_id} | {wm} | {total} | {upd} | {rem} | {mem} |")
    out.append("")
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session({"spark": {
        "app_name": "streaming-state-report",
        "master": "local[8]",
        "log_level": "ERROR",
        "configs": {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.ui.enabled": "false",
        },
    }})

    from etl_entregas_pyspark_spark.queries.events import E
    from etl_entregas_pyspark_spark.streaming import (
        dedup_stream,
        read_event_stream,
        sessionized_stream,
        start_memory_sink,
        stream_stream_join,
        tumbling_counts_stream,
    )

    events_dir = tempfile.mkdtemp(prefix="events_state_report_")
    try:
        E(spark, sf_dir).repartition(N_FILES).write.mode("overwrite").parquet(events_dir)

        sections = [
            "# STREAMING — observed state-store metrics",
            "",
            f"Generated by `python tools/streaming_state_report.py {sf_dir}`:",
            f"the events table rewritten as {N_FILES} files, streamed one file",
            "per trigger, metrics from `StreamingQueryProgress.stateOperators`.",
            "Every operator keys its state by event-time window (or carries an",
            "event-time column), so advancing the watermark EVICTS finalized",
            "entries: `state rows` stabilizes instead of growing with history,",
            "and `removed` > 0 marks the eviction batches. That bound —",
            "state ∝ active windows × keys, not stream length — is what lets",
            "these pipelines run indefinitely at 100-TB stream scale.",
            "",
        ]

        # 1. tumbling window agg, append mode (watermark finalizes windows)
        stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
        q = start_memory_sink(
            tumbling_counts_stream(stream, size="1 hour", watermark="2 hours"),
            "state_report_tumbling",
            output_mode="append",
        )
        q.processAllAvailable()
        rows = _progress_rows(q)
        q.stop()
        sections += _fmt_table(
            rows,
            "Tumbling 1h windows, 2h watermark (append mode)",
            "State = open (not-yet-finalized) windows × event types. Windows "
            "older than `watermark` are emitted and REMOVED; state tracks the "
            "watermark frontier, not total history.",
        )

        # 2. streaming dedup within watermark
        stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
        q = start_memory_sink(
            dedup_stream(stream, keys=["event_id"], watermark="2 hours"),
            "state_report_dedup",
            output_mode="append",
        )
        q.processAllAvailable()
        rows = _progress_rows(q)
        q.stop()
        sections += _fmt_table(
            rows,
            "Streaming dedup (dropDuplicatesWithinWatermark, 2h horizon)",
            "State = one entry per key seen within the watermark horizon; "
            "entries older than the horizon are REMOVED each batch. Plain "
            "`dropDuplicates` on a stream would grow state forever — this is "
            "the bounded variant.",
        )

        # 3. session windows (merging state per user)
        stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
        q = start_memory_sink(
            sessionized_stream(stream, gap="30 minutes", watermark="2 hours"),
            "state_report_sessions",
            output_mode="append",
        )
        q.processAllAvailable()
        rows = _progress_rows(q)
        q.stop()
        sections += _fmt_table(
            rows,
            "Session windows (30-min gap, 2h watermark, append mode)",
            "State = one MERGING window per (user, open session) — "
            "session_window entries coalesce as events arrive, and sessions "
            "whose close falls behind the watermark are finalized, emitted "
            "and REMOVED. The per-key state is the open session only, never "
            "the user's history.",
        )

        # 4. stream-stream join with time-range condition
        left = read_event_stream(spark, events_dir, max_files_per_trigger=1)
        right = read_event_stream(spark, events_dir, max_files_per_trigger=1)
        q = start_memory_sink(
            stream_stream_join(
                left, right, lookback="1 hour", watermark="2 hours"
            ),
            "state_report_join",
            output_mode="append",
        )
        q.processAllAvailable()
        rows = _progress_rows(q)
        q.stop()
        sections += _fmt_table(
            rows,
            "Stream–stream join (1h lookback, 2h watermarks both sides)",
            "State = buffered rows from both sides inside the join's time "
            "range. The watermark + range condition lets Spark evict left "
            "rows older than the right watermark and right rows older than "
            "(left watermark − lookback): both buffers stay bounded.",
        )

        # 4b. stream-STATIC enrichment (q255's live form): the static
        #     dimension is NOT state — only the windowed aggregation
        #     above it keeps store entries, so the table reads like the
        #     tumbling one; the join itself is stateless per micro-batch.
        from pyspark.sql import functions as F_

        from etl_entregas_pyspark_spark.streaming import (
            enriched_counts_stream,
        )

        dim = (
            spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select(
                F_.col("c_custkey").alias("user_id"),
                F_.col("c_mktsegment").alias("segment"),
            )
        )
        stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
        q = start_memory_sink(
            enriched_counts_stream(stream, dim, watermark="2 hours"),
            "state_report_enriched",
            output_mode="append",
        )
        q.processAllAvailable()
        rows = _progress_rows(q)
        q.stop()
        sections += _fmt_table(
            rows,
            "Stream-static enrichment (broadcast dim join → 1h windows × "
            "segment, 2h watermark)",
            "State = open windows × segments ONLY — the broadcast static "
            "dimension holds no state-store entries (it re-resolves per "
            "micro-batch, which is how a refreshed dimension snapshot "
            "propagates). The join adds zero state growth over the plain "
            "tumbling aggregation; segments replace event types as the key.",
        )

        # 5. stateful sliding-distinct (applyInPandasWithState, q175's live
        #    path) — state is pruned by the operator itself, not a watermark:
        #    each update drops users whose latest event left the lookback
        #    window, so `state rows` tracks ACTIVE users per event type.
        import glob as _glob
        import time

        from etl_entregas_pyspark_spark.queries.incremental import _SLICES
        from etl_entregas_pyspark_spark.streaming.stateful import (
            streaming_sliding_distinct,
        )

        sliced_dir = tempfile.mkdtemp(prefix="events_state_sliced_")
        try:
            from pyspark.sql import functions as F

            e = E(spark, sf_dir)
            base_mtime = time.time()
            lo = 0
            for i, hi in enumerate(_SLICES):
                chunk = e.filter(
                    (F.dayofmonth("ts") > lo) & (F.dayofmonth("ts") <= hi)
                )
                stage = os.path.join(sliced_dir, f"_stage{i}")
                chunk.coalesce(1).write.mode("overwrite").parquet(stage)
                part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
                dst = os.path.join(sliced_dir, f"slice{i}.parquet")
                os.rename(part, dst)
                os.utime(dst, (base_mtime + i, base_mtime + i))
                shutil.rmtree(stage, ignore_errors=True)
                lo = hi
            stream = read_event_stream(
                spark, sliced_dir, max_files_per_trigger=1
            )
            q = start_memory_sink(
                streaming_sliding_distinct(stream),
                "state_report_sliding",
                output_mode="append",
            )
            q.processAllAvailable()
            rows = _progress_rows(q)
            q.stop()
            sections += _fmt_table(
                rows,
                "Stateful sliding-distinct (applyInPandasWithState, q175 live path)",
                "State = one entry per event type holding the (user, "
                "latest_ts) pairs still inside the trailing 1-hour window — "
                "`state rows` is the KEY count (5 event types), while `state "
                "bytes` tracks the pruned per-key user lists: the update "
                "function drops expired users on every batch, so bytes track "
                "CONCURRENT users, not stream history. The "
                "time-sliced replay (one day-range per trigger) satisfies the "
                "operator's ordered-arrival contract; equivalence to q153's "
                "batch sweep is pinned by "
                "tests/test_round7_properties.py::"
                "test_stream_sliding_distinct_matches_batch.",
            )
        finally:
            shutil.rmtree(sliced_dir, ignore_errors=True)

        # 6. DISORDERED session replay (q212's schedule): the state metrics
        #    under out-of-order delivery — late-beyond-watermark slices are
        #    filtered before they can touch state, late-within-watermark
        #    rows MERGE into open sessions, sentinels flush the rest.
        from etl_entregas_pyspark_spark.queries.incremental import (
            _DISORDER_COLS,
            _disordered_cut,
        )

        dis_dir = tempfile.mkdtemp(prefix="events_state_disorder_")
        try:
            a, b1, b2, c, d, sentinel = _disordered_cut(spark, sf_dir)
            base_mtime = time.time()
            for i, chunk in enumerate(
                [a, b1, b2, c, d, sentinel(10), sentinel(20)]
            ):
                stage = os.path.join(dis_dir, f"_stage{i}")
                chunk.select(*_DISORDER_COLS).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(stage)
                part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
                dst = os.path.join(dis_dir, f"slice{i}.parquet")
                os.rename(part, dst)
                os.utime(dst, (base_mtime + i, base_mtime + i))
                shutil.rmtree(stage, ignore_errors=True)
            stream = read_event_stream(spark, dis_dir, max_files_per_trigger=1)
            q = start_memory_sink(
                sessionized_stream(
                    stream, gap="30 minutes", watermark="1 hour", exact_scale=6
                ),
                "state_report_disordered_sessions",
                output_mode="append",
            )
            q.processAllAvailable()
            rows = _progress_rows(q)
            q.stop()
            sections += _fmt_table(
                rows,
                "DISORDERED session replay (q212's out-of-order schedule)",
                "The q201/q212 delivery schedule — bulk first, then a "
                "beyond-watermark slice (must leave state untouched), then "
                "within-watermark late twins (must MERGE into open "
                "sessions), then two far-future sentinels. Watch the "
                "beyond-watermark batch: `updated` stays ~0 (the late "
                "filter killed it before the state store) while the "
                "late-twin batch shows `updated` > 0 with `state rows` "
                "NOT growing proportionally (merges, not inserts); the "
                "sentinel batches flush everything (`removed` spikes, "
                "`state rows` collapses). The emitted sessions' "
                "VALUE-correctness under this schedule is the driver-gate "
                "oracle q212.",
            )
        finally:
            shutil.rmtree(dis_dir, ignore_errors=True)

        # 7. bucket-pruned snapshot merge: replay the change log through
        #    the full-rewrite sink AND the bucketed sink, measure bytes
        #    actually written per epoch, verify identical end state.
        from pyspark.sql import functions as F  # noqa: F811 (scoped reuse)

        from etl_entregas_pyspark_spark.streaming.upsert_sink import (
            _read_pointer,
            read_bucketed_snapshot,
            read_snapshot_store,
            snapshot_view,
            upsert_batch,
            upsert_batch_bucketed,
        )

        def _tree_bytes(root, prefix):
            total = 0
            for dirpath, _dirs, files in os.walk(root):
                rel = os.path.relpath(dirpath, root)
                if not rel.startswith(prefix):
                    continue
                total += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in files
                )
            return total

        log = (
            E(spark, sf_dir)
            .select(
                "user_id",
                "event_id",
                "ts",
                "value",
                F.when(F.col("event_type") == "error", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
            )
            .localCheckpoint()
        )
        from etl_entregas_pyspark_spark.streaming.upsert_sink import (
            _bucket_expr,
        )

        n_slices = 6

        def _replay(slicer, title, note):
            """Run one change-log replay through both sinks; emit a table
            of per-epoch rewrite cost in ROWS (the overhead-free signal)
            and bytes (carries parquet per-file overhead at this tiny
            scale — 16 small files cost more footer than 1 big one)."""
            full_dir = tempfile.mkdtemp(prefix="merge_full_")
            buck_dir = tempfile.mkdtemp(prefix="merge_buck_")
            try:
                merge_rows = []
                for i in range(n_slices):
                    sl = slicer(i)
                    fb0 = _tree_bytes(full_dir, "v")
                    upsert_batch(sl, i, full_dir, keep_last=n_slices + 1)
                    fb1 = _tree_bytes(full_dir, "v")
                    ptr_f = _read_pointer(full_dir)
                    rows_full = spark.read.parquet(
                        os.path.join(full_dir, f"v{ptr_f['version']}")
                    ).count()
                    bb0 = _tree_bytes(buck_dir, "bucket=")
                    man0 = dict(_read_pointer(buck_dir).get("buckets", {}))
                    upsert_batch_bucketed(
                        sl, i, buck_dir, keep_last=n_slices + 1
                    )
                    bb1 = _tree_bytes(buck_dir, "bucket=")
                    man1 = _read_pointer(buck_dir).get("buckets", {})
                    new_dirs = [
                        os.path.join(buck_dir, f"bucket={b}", f"v{v}")
                        for b, v in man1.items()
                        if man0.get(b) != v
                    ]
                    rows_buck = (
                        spark.read.parquet(*new_dirs).count()
                        if new_dirs
                        else 0
                    )
                    merge_rows.append(
                        (
                            i,
                            rows_full,
                            rows_buck,
                            fb1 - fb0,
                            bb1 - bb0,
                            len(new_dirs),
                            len(man1),
                        )
                    )
                full_state = sorted(
                    tuple(r)
                    for r in snapshot_view(
                        read_snapshot_store(spark, full_dir)
                    ).collect()
                )
                buck_state = sorted(
                    tuple(r)
                    for r in snapshot_view(
                        read_bucketed_snapshot(spark, buck_dir)
                    ).collect()
                )
                equal = full_state == buck_state
                rows_f = sum(r[1] for r in merge_rows)
                rows_b = sum(r[2] for r in merge_rows)
                out = [
                    f"#### {title}",
                    "",
                    note,
                    "",
                    "| epoch | full rows rewritten | bucketed rows rewritten | full bytes | bucketed bytes | buckets rewritten / total |",
                    "|---|---|---|---|---|---|",
                ]
                for i, rf, rb, fb, bb, touched, nb in merge_rows:
                    out.append(
                        f"| {i} | {rf} | {rb} | {fb} | {bb} | {touched} / {nb} |"
                    )
                out += [
                    "",
                    f"Totals: {rows_f} rows rewritten (full) vs {rows_b} "
                    f"(bucketed) — **{rows_f / max(rows_b, 1):.2f}x row "
                    f"rewrite amplification removed**; end states "
                    f"identical: {equal}.",
                    "",
                ]
                return out
            finally:
                shutil.rmtree(full_dir, ignore_errors=True)
                shutil.rmtree(buck_dir, ignore_errors=True)

        sections += [
            "### Bucket-pruned snapshot merge vs full rewrite (measured)",
            "",
            "The change log replayed as "
            f"{n_slices} micro-batches through BOTH sinks (`upsert_batch` "
            "= full snapshot rewrite per epoch; `upsert_batch_bucketed` = "
            "rewrite only the key-buckets the batch touches, untouched "
            "buckets left byte-identical — their manifest entries carry "
            "forward and their files keep their mtimes). Two workloads: "
            "the worst case (uniform random keys — every batch touches "
            "every bucket, so pruning cannot help and the 16-file parquet "
            "footer overhead is visible in the bytes column) and the "
            "production norm (a localized change log — each batch's keys "
            "confined to a quarter of the key space). ROWS rewritten is "
            "the scale-faithful metric; bytes at this toy scale are "
            "dominated by per-file overhead that vanishes once buckets "
            "hold hundreds of MB.",
            "",
        ]
        sections += _replay(
            lambda i: log.filter(F.pmod(F.col("event_id"), n_slices) == i),
            "Uniform change log (worst case for pruning)",
            "Batch keys hash everywhere: all 16 buckets rewritten every "
            "epoch; rewrite rows track the growing snapshot either way — "
            "pruning is a no-op by design here, shown for honesty.",
        )
        sections += _replay(
            lambda i: log.filter(
                F.pmod(F.col("event_id"), n_slices) == i
            ).filter(F.pmod(_bucket_expr(), F.lit(4)) == (i % 4)),
            "Localized change log (each batch confined to 1/4 of the key space)",
            "The ingest-locality case (sharded producers, regional days, "
            "backfills): each batch touches 4 of 16 buckets; the other 12 "
            "are neither read nor rewritten, so per-epoch cost follows "
            "the TOUCHED rows, not the snapshot.",
        )
        sections += [
            "At 100 TB the bucket grid is thousands of buckets and a "
            "daily batch touches a small fraction: the full-rewrite term "
            "O(snapshot) disappears entirely, leaving O(batch + "
            "touched-bucket rows) per epoch. End-state equivalence incl. "
            "a re-delivered epoch and untouched-bucket byte-identity are "
            "pinned by tests/test_round11_ops.py::"
            "test_bucketed_merge_equals_full_rewrite.",
            "",
        ]

        sections += [
            "### Exactly-once upsert sink (foreachBatch MERGE, epoch-fenced)",
            "",
            "Not a state-store operator — state lives in the SINK: a",
            "versioned parquet snapshot advanced per micro-batch by",
            "`streaming/upsert_sink.py` and fenced by the committed epoch",
            "(a re-delivered epoch after recovery is a no-op, so lifetime",
            "op counts never double-apply). The merge fold is the same code",
            "the batch twin q151 runs time-sliced, which the DuckDB oracle",
            "pins to q104's one-pass snapshot; the live path (including a",
            "deliberate epoch re-delivery and an out-of-order slice replay)",
            "is covered by `tests/test_upsert_sink.py`. Store size ∝",
            "distinct keys — independent of stream length. The",
            "bucket-pruned variant above (`upsert_batch_bucketed`,",
            "round 11) is the scale path: the store IS a key-bucketed",
            "table, the merge reads and rewrites only touched buckets,",
            "and the per-epoch O(snapshot) rewrite term is gone.",
            "",
            "### Live band-index maintenance (foreachBatch append, epoch-fenced)",
            "",
            "Round 10 closes the loop from live ingest to standing-corpus",
            "dedup: `streaming/upsert_sink.py:band_index_batch` maintains",
            "the persisted LSH band index that q210's incremental probe",
            "reads (`queries/lsh_index.py:ensure_band_index` is the one-shot",
            "batch build of the same table). Per micro-batch: shingle →",
            "minhash → band the BATCH docs only (shared",
            "`band_signatures` implementation, so live and batch builds",
            "cannot drift), write them to an `epoch=<id>` subdirectory, and",
            "swing the committed-epoch pointer last. Exactly-once falls out",
            "of the append-only layout — a re-delivered epoch overwrites its",
            "own directory and is skipped by the fence; a crash between",
            "write and pointer swing leaves the orphan INVISIBLE to",
            "`read_band_index` until recovery re-delivers and commits it.",
            "Optional `route_dups` drops batch docs whose bands collide with",
            "the committed index (or a smaller-id doc in the same batch) —",
            "candidate-level hygiene; the Jaccard-verified routing is q211's",
            "job against the corpus store. Per-batch cost is O(batch): no",
            "corpus signature is ever recomputed or rewritten, which is the",
            "100-TB ingest contract. `compact_band_index` is the scheduled",
            "maintenance pass: it folds the committed epoch directories (and",
            "any previous base) into one `base=v<N>` directory with the",
            "snapshot store's versioned-rewrite discipline — base written",
            "first, pointer swings recording `base_through_epoch`, absorbed",
            "directories deleted last — so a crash at ANY point can neither",
            "lose nor double-count a row (orphan bases are never resolved;",
            "lingering absorbed epochs are fenced by the pointer).",
            "Equivalence of the live-maintained and batch-built indexes on a",
            "time-sliced replay, the re-delivery no-op, the reader fence,",
            "both routing rules, and compaction's row-preservation +",
            "crash-fencing + post-compaction appends are pinned by",
            "`tests/test_band_index_sink.py`; q217 is the registered",
            "reconciliation audit that proves the maintained index still",
            "meets the corpus contract.",
            "",
            "## Reading the tables",
            "",
            "- `state rows` should rise while the source outruns the",
            "  watermark, then plateau/fall as eviction catches up — it must",
            "  NOT grow monotonically with input size.",
            "- `removed` > 0 is the direct evidence of eviction.",
            "- `state bytes` is the executor-memory cost of the operator; at",
            "  production scale divide by executors for the per-node bound",
            "  and back it with RocksDB state store",
            "  (`spark.sql.streaming.stateStore.providerClass`).",
            "- The stateful-rate-limit operator (applyInPandasWithState,",
            "  streaming/stateful.py) carries its own timeout-based eviction:",
            "  `GroupState.setTimeoutDuration` drops idle keys; see",
            "  tests/test_stateful_streaming.py.",
            "",
        ]
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "STREAMING.md"), "w") as f:
            f.write("\n".join(sections))
        print("wrote STREAMING.md")
    finally:
        shutil.rmtree(events_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
