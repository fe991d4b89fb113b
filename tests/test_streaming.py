"""Streaming operators: the applyInPandasWithState sessionizer must
agree with its batch twin on every CLOSED session (open sessions stay
in state at drain time — correct streaming semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from goe_spark.catalog import load_table
from goe_spark.queries.streaming_batch import sessionization_stats
from goe_spark.streaming.events import sessionize_stream, windowed_event_counts
from tests.conftest import SF_SMALL


def test_windowed_counts_equal_batch(spark):
    got = windowed_event_counts(spark, SF_SMALL)
    # Build the batch oracle from catalog.load_table so it follows the
    # fixture's ts encoding (nanos-long vs TIMESTAMP_NTZ) instead of
    # hard-coding one conversion.
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert got.count() == batch.count()
    assert (
        got.exceptAll(batch.select(*got.columns)).count() == 0
    ), "streaming result differs from batch"


def test_sessionizer_matches_batch_closed_sessions(spark, tmp_path):
    streamed = sessionize_stream(spark, SF_SMALL, str(tmp_path / "ckpt"))
    batch = sessionization_stats(spark, SF_SMALL)

    # The stream can't close each user's final session (no more data
    # arrives before the drain stops) — drop the last session per user
    # from the batch result before comparing.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    batch_closed = (
        batch.withColumn("max_sid", F.max("session_id").over(w))
        .where(F.col("session_id") != F.col("max_sid"))
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )
    streamed_cmp = streamed.select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )
    assert streamed_cmp.count() == batch_closed.count()
    assert streamed_cmp.exceptAll(batch_closed).count() == 0
    assert batch_closed.exceptAll(streamed_cmp).count() == 0


def test_stream_offload_exactly_once(spark, tmp_path):
    """Continuous offload: the drained stream lands every event once;
    a re-run with the same checkpoint adds nothing; a CRASH re-delivery
    (commit marker deleted, ledger entry missing — the worst-case
    window) overwrites the same batch directory instead of duplicating;
    and the HWM lands in the metadata store like a batch offload's."""
    import os

    from goe_spark.plans.metadata import MetadataStore
    from goe_spark.streaming.ingest import (
        BatchLedger,
        read_streamed_table,
        stream_offload_events,
    )

    target = str(tmp_path / "final")
    ckpt = str(tmp_path / "ckpt")
    md_dir = str(tmp_path / "md")
    expected = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()

    n1 = stream_offload_events(spark, SF_SMALL, target, ckpt, md_dir)
    assert n1 == expected

    # Same checkpoint: the source has no new files, nothing appends.
    n2 = stream_offload_events(spark, SF_SMALL, target, ckpt, md_dir)
    assert n2 == expected

    # Crash re-delivery, worst case: the data write finished but the
    # ledger entry is missing (crash in the window between them). The
    # redelivered sink call must overwrite the batch directory, not
    # append a duplicate — and with the ledger entry intact it must
    # skip entirely.
    from goe_spark.plans.metadata import atomic_write_json
    from goe_spark.streaming.ingest import make_batch_sink

    ledger = BatchLedger(md_dir, "default", "events", ckpt)
    committed = ledger.committed()
    assert committed
    last = max(committed)
    sink = make_batch_sink(target, ckpt, md_dir)
    batch_df = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    batch_df = __import__(
        "goe_spark.catalog", fromlist=["normalize_events_ts"]
    ).normalize_events_ts(batch_df)

    sink(batch_df, last)  # ledger intact -> skipped
    assert read_streamed_table(spark, target).count() == expected

    atomic_write_json(ledger.path, sorted(committed - {last}), indent=None)
    sink(batch_df, last)  # ledger lost -> overwrite same dir
    assert read_streamed_table(spark, target).count() == expected
    assert last in ledger.committed()

    # HWM bookkeeping: metadata looks like an incremental offload's.
    md = MetadataStore(md_dir).get("default", "events")
    assert md.offload_type == "RANGE"
    assert md.incremental_high_value is not None
    # Partitioned layout on the synthetic column inside each batch dir.
    batch_dirs = [d for d in os.listdir(target) if d.startswith("batch-")]
    assert batch_dirs
    assert any(
        p.startswith("goe_part_key=")
        for d in batch_dirs
        for p in os.listdir(os.path.join(target, d))
    )
    assert "goe_part_key" in read_streamed_table(spark, target).columns

    # A FRESH checkpoint with a fresh ledger re-reads the source; the
    # new ledger (keyed by checkpoint) must not skip batch 0.
    target2 = str(tmp_path / "final2")
    n4 = stream_offload_events(
        spark, SF_SMALL, target2, str(tmp_path / "ckpt2"), md_dir
    )
    assert n4 == expected


def test_attribution_stream_equals_batch(spark):
    """The stream-stream interval join (watermarked, state-bounded)
    must produce the same attribution pairs as the batch twin's
    sort-merge interval join."""
    from pyspark.sql import functions as F

    from goe_spark.queries.streaming_batch import purchase_attribution
    from goe_spark.streaming.events import attribution_pairs_stream

    pairs = attribution_pairs_stream(spark, SF_SMALL)
    streamed = (
        pairs.groupBy(F.col("buy_ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("buy_id").alias("n_purchases"),
            F.round(
                F.count(F.lit(1)) / F.countDistinct("buy_id"), 4
            ).alias("views_per_purchase"),
        )
        .collect()
    )
    batch = purchase_attribution(spark, SF_SMALL).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert streamed  # non-degenerate: the fixture has attributed buys


def test_enriched_counts_cover_all_types(spark):
    """Every event lands in exactly one category (the dim covers the
    type domain), so enriched counts sum to the event count."""
    from pyspark.sql import functions as F

    from goe_spark.catalog import load_table
    from goe_spark.streaming.events import enriched_window_counts

    got = enriched_window_counts(spark, SF_SMALL)
    total = got.agg(F.sum("n_events")).first()[0]
    assert total == load_table(spark, SF_SMALL, "events").count()


def test_streamed_table_as_of_batch_snapshot(spark, tmp_path):
    """Per-batch roots give snapshot reads: as_of_batch=N returns the
    table exactly as it stood after batch N committed."""
    from goe_spark.plans.offload import SYNTHETIC_COL
    from goe_spark.streaming.ingest import (
        make_batch_sink,
        read_streamed_table,
    )

    target = str(tmp_path / "t")
    sink = make_batch_sink(
        target, str(tmp_path / "ckpt"), str(tmp_path / "meta")
    )
    from goe_spark.catalog import load_table

    e = load_table(spark, SF_SMALL, "events").limit(300).cache()
    b0 = e.limit(100)
    b1 = e.subtract(b0).limit(100)
    n0, n1 = b0.count(), b1.count()
    sink(b0, 0)
    sink(b1, 1)

    snap0 = read_streamed_table(spark, target, as_of_batch=0)
    full = read_streamed_table(spark, target)
    assert snap0.count() == n0
    assert full.count() == n0 + n1
    assert SYNTHETIC_COL in snap0.columns
    assert read_streamed_table(spark, target, as_of_batch=-1) is None
    e.unpersist()


def test_fold_streamed_batches_retention(spark, tmp_path):
    """The fold janitor bounds batch-root growth: old batches merge
    into base/, recent ones stay snapshot-readable, totals unchanged,
    and a crashed fold (marker armed, removal incomplete) heals."""
    import os
    import shutil

    from goe_spark.catalog import load_table
    from goe_spark.streaming.ingest import (
        BASE_DIR,
        fold_streamed_batches,
        make_batch_sink,
        read_streamed_table,
    )
    from tests.conftest import crash_swap

    target = str(tmp_path / "t")
    sink = make_batch_sink(
        target, str(tmp_path / "ckpt"), str(tmp_path / "meta")
    )
    e = load_table(spark, SF_SMALL, "events").limit(400).cache()
    chunks = [e.limit(100)]
    rest = e.subtract(chunks[0])
    for _ in range(3):
        nxt = rest.limit(100)
        chunks.append(nxt)
        rest = rest.subtract(nxt)
    for i, c in enumerate(chunks):
        sink(c, i)
    total = read_streamed_table(spark, target).count()

    rep = fold_streamed_batches(spark, target, keep_last=2)
    assert rep["folded"] == 2  # batches 0 and 1
    assert os.path.isdir(os.path.join(target, BASE_DIR))
    assert not os.path.isdir(os.path.join(target, "batch-000000"))
    assert read_streamed_table(spark, target).count() == total
    # Snapshot inside the window still works; older raises.
    assert read_streamed_table(spark, target, as_of_batch=2).count() < total
    import pytest as _pytest

    with _pytest.raises(ValueError, match="retention window"):
        read_streamed_table(spark, target, as_of_batch=0)

    # Second fold folds batch 2 into the existing base.
    rep2 = fold_streamed_batches(spark, target, keep_last=1)
    assert rep2["folded"] == 1
    assert read_streamed_table(spark, target).count() == total

    # Crash: marker armed, the folded root removed, the new base still
    # staged — reads refuse until a heal (here: the next fold).
    sink(e.subtract(chunks[0]).limit(1), 4)
    with crash_swap("dropped"):
        fold_streamed_batches(spark, target, keep_last=1)
    assert not os.path.isdir(os.path.join(target, "batch-000003"))
    with _pytest.raises(RuntimeError, match="crashed fold pending"):
        read_streamed_table(spark, target)
    rep3 = fold_streamed_batches(spark, target, keep_last=1)
    assert rep3["healed"] is True and rep3["folded"] == 0
    assert not os.path.isdir(os.path.join(target, "batch-000003"))
    assert read_streamed_table(spark, target).count() == total + 1
    assert [n for n in os.listdir(tmp_path) if "compact" in n] == []
    e.unpersist()


def test_fold_heal_after_rename_keeps_new_base(spark, tmp_path):
    """The data-loss phase: crash AFTER the new base moved in but
    before the marker is removed. Heal must leave the new base alone
    (deleting it would lose every folded row) — and an armed swap
    makes reads refuse instead of silently dropping rows."""
    import os

    from goe_spark.catalog import load_table
    from goe_spark.plans.heal import heal_target
    from goe_spark.streaming.ingest import (
        BASE_DIR,
        fold_streamed_batches,
        make_batch_sink,
        read_streamed_table,
    )
    from tests.conftest import crash_swap

    target = str(tmp_path / "t")
    sink = make_batch_sink(target, str(tmp_path / "ck"), str(tmp_path / "md"))
    e = load_table(spark, SF_SMALL, "events").limit(300).cache()
    b0 = e.limit(100)
    sink(b0, 0)
    b1 = e.subtract(b0).limit(100)
    sink(b1, 1)
    sink(e.subtract(b0).subtract(b1).limit(100), 2)
    total = read_streamed_table(spark, target).count()
    fold_streamed_batches(spark, target, keep_last=2)  # base/ = batch 0

    with crash_swap("unmarked"):
        fold_streamed_batches(spark, target, keep_last=1)  # base/ + batch 1
    base_rows = spark.read.parquet(os.path.join(target, BASE_DIR)).count()
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crashed fold pending"):
        read_streamed_table(spark, target)

    assert heal_target(spark, target)["swaps_healed"] == ["."]
    # The new base survived; nothing was lost.
    assert (
        spark.read.parquet(os.path.join(target, BASE_DIR)).count()
        == base_rows
        == total - 100
    )
    assert read_streamed_table(spark, target).count() == total
    e.unpersist()


def test_continuous_rollup_incremental_and_foldable(spark, tmp_path):
    """The continuous aggregate: partials accumulate per batch,
    re-delivery cannot double-count, snapshots reconstruct any
    committed point, and folding partials preserves the merged result
    exactly (decimal measures make the equality bit-for-bit)."""
    from pyspark.sql import functions as F

    from goe_spark.catalog import load_table
    from goe_spark.streaming.rollup import (
        fold_rollup,
        make_rollup_sink,
        read_rollup,
    )

    rollup = str(tmp_path / "rollup")
    sink = make_rollup_sink(rollup, str(tmp_path / "ck"), str(tmp_path / "md"))

    e = load_table(spark, SF_SMALL, "events").orderBy("event_id").cache()
    n = e.count()
    cut1, cut2 = n // 3, 2 * n // 3
    ids = [r.event_id for r in e.select("event_id").collect()]
    b0 = e.where(F.col("event_id").isin(ids[:cut1]))
    b1 = e.where(F.col("event_id").isin(ids[cut1:cut2]))
    b2 = e.where(F.col("event_id").isin(ids[cut2:]))

    def expected(df):
        return sorted(
            map(
                tuple,
                df.groupBy(
                    F.col("ts").cast("date").alias("day"), "event_type"
                )
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    # round-then-cast-to-double mirrors read_rollup's
                    # presentation (stored partials stay exact decimal)
                    F.round(
                        F.sum(F.col("value").cast("decimal(20,2)")), 2
                    )
                    .cast("double")
                    .alias("sum_value"),
                )
                .collect(),
            )
        )

    def got(as_of=None):
        return sorted(map(tuple, read_rollup(spark, rollup, as_of).collect()))

    sink(b0, 0)
    assert got() == expected(b0)
    sink(b1, 1)
    sink(b1, 1)  # ledger-visible re-delivery: no double count
    assert got() == expected(b0.unionByName(b1))
    sink(b2, 2)
    full = expected(e)
    assert got() == full
    # Snapshot read at batch 1 (before batch 2 landed).
    assert got(as_of=1) == expected(b0.unionByName(b1))

    # Crash re-delivery: ledger entry lost, partial dir present — the
    # rewrite must leave one copy.
    import json

    ledger_files = list((tmp_path / "md").glob("*.stream_batches.*.json"))
    assert len(ledger_files) == 1
    ledger_files[0].write_text(json.dumps([0, 1]))  # "forget" batch 2
    sink(b2, 2)
    assert got() == full

    # Fold everything but the newest root: merged result unchanged,
    # old snapshot now out of the retention window.
    res = fold_rollup(spark, rollup, keep_last=1)
    assert res["folded"] == 2
    assert got() == full
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_rollup(spark, rollup, as_of_batch=0)
    e.unpersist()


def test_continuous_rollup_multi_microbatch_engine_drain(spark, tmp_path):
    """The rollup maintained by the REAL streaming engine across
    multiple micro-batches (maxFilesPerTrigger=1 over a 4-file copy):
    partials accumulate batch by batch and the merged result equals
    the direct aggregate."""
    import os

    from goe_spark.streaming.rollup import make_rollup_sink, read_rollup

    src = str(tmp_path / "src")
    e = load_table(spark, SF_SMALL, "events")
    e.repartition(4).write.parquet(src)

    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    sink = make_rollup_sink(rollup, ck, str(tmp_path / "md"))
    q = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n_batches = len([d for d in os.listdir(rollup) if d.startswith("batch-")])
    assert n_batches >= 2, "rate limit must yield multiple micro-batches"

    expected = sorted(
        map(
            tuple,
            e.groupBy(F.col("ts").cast("date").alias("day"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(20,2)")), 2
                )
                .cast("double")
                .alias("sum_value"),
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, read_rollup(spark, rollup).collect()))
    assert got == expected

    # Re-draining the same checkpoint is a no-op (source-side progress).
    q2 = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert sorted(map(tuple, read_rollup(spark, rollup).collect())) == expected


def test_outer_attribution_stream_equals_batch_on_closed_purchases(spark):
    """LEFT OUTER stream-stream interval join: matched rows must
    exactly equal the batch inner pairs (matches never depend on
    expiry), every emitted null-view row must be genuinely
    unattributed per the batch twin, and for purchases the final
    watermark provably closed (buy_ts < max_ts - watermark) the
    emitted unmatched set must equal the batch unattributed set —
    the open tail correctly stays in state."""
    import datetime

    from pyspark.sql import functions as F

    from goe_spark.catalog import load_table
    from goe_spark.queries.streaming_batch import ATTRIBUTION_WINDOW_MIN
    from goe_spark.streaming.events import unattributed_purchases_stream

    out = unattributed_purchases_stream(spark, SF_SMALL)
    e = load_table(spark, SF_SMALL, "events")
    v = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    b = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    cond = (
        (F.col("v_user") == F.col("b_user"))
        & (F.col("view_ts") <= F.col("buy_ts"))
        & (
            F.col("view_ts")
            >= F.col("buy_ts")
            - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")
        )
    )
    batch_pairs = {
        (r.buy_id, r.view_ts) for r in b.join(v, cond).collect()
    }
    stream_pairs = {
        (r.buy_id, r.view_ts)
        for r in out.where(F.col("view_ts").isNotNull()).collect()
    }
    assert stream_pairs == batch_pairs
    assert stream_pairs  # fixture has attributed purchases

    batch_unattrib = {
        r.buy_id for r in b.join(v, cond, "left_anti").collect()
    }
    stream_unattrib = {
        r.buy_id for r in out.where(F.col("view_ts").isNull()).collect()
    }
    assert stream_unattrib <= batch_unattrib  # no false unmatched rows
    # The GLOBAL watermark is the min over both input streams of
    # (max event time - delay); the buy-side state also carries the
    # join-window margin, so closure is only provable one window
    # further back.
    wm = min(
        v.agg(F.max("view_ts")).first()[0],
        b.agg(F.max("buy_ts")).first()[0],
    ) - datetime.timedelta(hours=1)
    closed_before = wm - datetime.timedelta(minutes=ATTRIBUTION_WINDOW_MIN)
    closed_ids = {
        r.buy_id
        for r in b.where(F.col("buy_ts") < F.lit(closed_before)).collect()
    }
    assert stream_unattrib >= (batch_unattrib & closed_ids)
    assert stream_unattrib  # expiry actually flushed on the drain


def test_events_stream_directory_table(spark, tmp_path):
    """Directory-style events tables (the normal production layout)
    must stream: pathGlobFilter matches only FILES, so the sf1 probe
    found the old form silently reading zero rows from a Spark-written
    events.parquet/ directory. Pin the isdir branch."""
    import os

    from goe_spark.catalog import load_table
    from goe_spark.streaming.events import windowed_event_counts
    from tests.conftest import SF_SMALL

    sf_dir = str(tmp_path / "sfdir")
    os.makedirs(sf_dir)
    ev = load_table(spark, SF_SMALL, "events")
    # write as a DIRECTORY table (multiple part files)
    ev.repartition(3).write.parquet(os.path.join(sf_dir, "events.parquet"))

    got = windowed_event_counts(spark, sf_dir)
    want = ev.count()
    assert got.agg({"n_events": "sum"}).first()[0] == want


def test_streaming_classifier_matches_batch(spark):
    """Stream-side classifier scoring equals the batch fold row for
    row — the fixed-point weights broadcast identically into the
    micro-batch plan."""
    from goe_spark.functions.classifier import classifier_logit_milli
    from goe_spark.streaming.docs import classifier_scored_counts
    from tests.conftest import SF_SMALL

    got = {
        r.lang: r for r in classifier_scored_counts(spark, SF_SMALL).collect()
    }
    exp = {
        r.lang: r
        for r in (
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select(
                "lang", classifier_logit_milli(F.col("text")).alias("logit")
            )
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum((F.col("logit") > 0).cast("long")).alias("n_keep"),
                F.sum((F.col("logit") > 500).cast("long")).alias("n_strong"),
                F.sum("logit").alias("sum_logit_milli"),
            )
            .collect()
        )
    }
    assert set(got) == set(exp)
    for lang, g in got.items():
        e = exp[lang]
        assert (g.n_docs, g.n_keep, g.n_strong, g.sum_logit_milli) == (
            e.n_docs, e.n_keep, e.n_strong, e.sum_logit_milli
        )


def test_streaming_pii_quarantine_matches_batch(spark):
    """Stream-side PII quarantine routing equals the batch scan row
    for row — same regex counters, every doc scanned exactly once."""
    from goe_spark.queries.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        augmented_text,
        pii_count,
    )
    from goe_spark.streaming.docs import pii_quarantine_counts
    from tests.conftest import SF_SMALL

    got = {
        r.source: r
        for r in pii_quarantine_counts(spark, SF_SMALL).collect()
    }
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").withColumn(
        "aug", augmented_text()
    )
    e = pii_count("aug", EMAIL_RE)
    p = pii_count("aug", PHONE_RE)
    i = pii_count("aug", IPV4_RE)
    any_pii = (e + p + i) > 0
    exp = {
        r.source: r
        for r in d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(any_pii.cast("long")).alias("n_quarantined"),
            F.sum((~any_pii).cast("long")).alias("n_clean"),
            F.sum(e).alias("n_emails"),
            F.sum(p).alias("n_phones"),
            F.sum(i).alias("n_ips"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for src, g in got.items():
        x = exp[src]
        assert (
            g.n_docs, g.n_quarantined, g.n_clean,
            g.n_emails, g.n_phones, g.n_ips,
        ) == (
            x.n_docs, x.n_quarantined, x.n_clean,
            x.n_emails, x.n_phones, x.n_ips,
        )
