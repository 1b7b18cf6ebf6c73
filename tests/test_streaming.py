"""Structured Streaming operators run against file sources with
``trigger(availableNow=True)`` and compared to their batch twins — one
set of expression semantics, two execution modes (SURVEY §2.9)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datas_spark.streaming.scoring import (
    read_event_stream,
    score_stream,
    sessionize,
    stream_dedup,
    windowed_event_agg,
)


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("events")
    rows = []
    for i in range(40):
        rows.append(
            {
                "event_id": i,
                # two users; 30s apart, with a >5min session gap at i==20
                "ts": f"2024-01-01T00:{(i % 20) * 2:02d}:{(i // 20) * 30:02d}",
                "user_id": i % 2,
                "event_type": ["click", "view"][i % 2],
                "value": float(i),
                "props": "{}",
            }
        )
    # a duplicate event_id to exercise stream dedup
    rows.append(dict(rows[0]))
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(path)


def _run_stream(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if sdf.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _run_append_stream(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_scoring_matches_batch(spark, event_dir):
    stream = score_stream(read_event_stream(spark, event_dir))
    got = _run_append_stream(spark, stream, "scored_events").collect()
    batch = score_stream(
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        ).json(event_dir)
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_windowed_agg_matches_batch(spark, event_dir):
    stream = windowed_event_agg(
        read_event_stream(spark, event_dir), window="10 minutes"
    )
    got = _run_stream(spark, stream, "windowed_events")
    batch_src = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).json(event_dir)
    batch = windowed_event_agg(batch_src, window="10 minutes")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_dedup_drops_watermark_duplicates(spark, event_dir):
    stream = stream_dedup(read_event_stream(spark, event_dir), ["event_id"])
    got = _run_append_stream(spark, stream, "deduped_events")
    assert got.count() == 40  # 41 rows in, 1 duplicate event_id dropped
    assert got.select("event_id").distinct().count() == 40


def test_sessionize_gap_semantics(spark, event_dir):
    stream = sessionize(read_event_stream(spark, event_dir), gap="5 minutes")
    got = _run_stream(spark, stream, "sessions")
    rows = got.collect()
    # 2 users x 20 events each at 4-minute spacing within a user: the
    # 30s-shifted second half keeps gaps < 5min -> ONE session per user
    # (user 0 carries the duplicated event: 21)
    assert {(r.user_id, r.n_events) for r in rows} == {(0, 21), (1, 20)}
    # session_window end = last event + gap
    for r in rows:
        assert (r.session_end - r.session_start).total_seconds() > 0


def test_stateful_running_stats(spark, event_dir):
    from datas_spark.streaming.scoring import running_user_stats

    stream = running_user_stats(read_event_stream(spark, event_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("running_stats").collect()
    # last emitted row per user == the batch aggregate (order-insensitive)
    latest = {r.user_id: (r.n_events, r.total_value) for r in got}
    batch_src = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).json(event_dir)
    expected = {
        r.user_id: (r.n, r.t)
        for r in batch_src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert {u: v[0] for u, v in latest.items()} == {u: v[0] for u, v in expected.items()}
    for u in expected:
        assert abs(latest[u][1] - expected[u][1]) < 1e-6


def test_enrich_stream_static_join_matches_batch(spark, event_dir):
    from datas_spark.streaming.scoring import enrich_stream

    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver")], "user_id long, tier string"
    )
    stream = enrich_stream(read_event_stream(spark, event_dir), dim, "user_id")
    got = _run_append_stream(spark, stream, "enriched_events").collect()
    batch_src = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).json(event_dir)
    batch = enrich_stream(batch_src, dim, "user_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert all(r.tier in ("gold", "silver") for r in got)


def test_incremental_dedup_sink_dedups_across_batches(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import incremental_dedup_sink

    src = tmp_path / "docs_src"
    src.mkdir()
    # batch 1: two docs; batch 2: one duplicate of doc 0 + one new doc
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"doc_id": 0, "text": "hello world"}) + "\n")
        f.write(_json.dumps({"doc_id": 1, "text": "unique first"}) + "\n")
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({"doc_id": 2, "text": "Hello,   WORLD!"}) + "\n")  # dup of 0
        f.write(_json.dumps({"doc_id": 3, "text": "brand new"}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .load(str(src))
    )
    q = incremental_dedup_sink(
        stream, str(tmp_path / "state"), "text", "doc_id", str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "state" / "rows"))
    kept = sorted(r.doc_id for r in rows.collect())
    # docs 0,1 from batch 1; batch 2's normalized duplicate dropped, 3 kept
    assert kept == [0, 1, 3]
    seen = spark.read.parquet(str(tmp_path / "state" / "seen"))
    assert seen.count() == 3

    # a SECOND streaming run over the same checkpoint re-processes
    # nothing and the state is unchanged (restart safety)
    q2 = incremental_dedup_sink(
        stream, str(tmp_path / "state"), "text", "doc_id", str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "state" / "rows")).collect()
    ) == [0, 1, 3]


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import join_streams

    src_dir = tmp_path / "attrib_events"
    src_dir.mkdir()
    rows = []
    for i in range(40):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T00:{i:02d}:00",
                "user_id": i % 3,
                "event_type": ["click", "view"][(i // 3) % 2],
                "value": float(i),
                "props": "{}",
            }
        )
    with open(src_dir / "part-0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    s = read_event_stream(spark, str(src_dir))
    got = _run_append_stream(
        spark,
        join_streams(
            s.where(F.col("event_type") == "click"),
            s.where(F.col("event_type") == "view"),
            max_gap="10 minutes",
        ),
        "attributed",
    ).collect()
    batch_src = spark.read.schema(schema).json(str(src_dir))
    batch = join_streams(
        batch_src.where(F.col("event_type") == "click"),
        batch_src.where(F.col("event_type") == "view"),
        max_gap="10 minutes",
    ).collect()
    assert len(batch) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


@pytest.mark.slow
def test_incremental_near_dedup_sink_catches_cross_batch_near_dups(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import incremental_near_dedup_sink

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long familiar tune about distributed systems and data quality"
    )
    near = base.replace("lazy", "sleepy")  # one-word edit: near-dup, not exact
    src = tmp_path / "neardup_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"doc_id": 0, "text": base}) + "\n")
        f.write(_json.dumps({"doc_id": 1, "text": "completely different content here about spark adaptive query execution and shuffle partitions"}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .load(str(src))
    )
    q = incremental_near_dedup_sink(
        stream, str(tmp_path / "nstate"), "text", "doc_id", str(tmp_path / "nckpt")
    )
    q.awaitTermination(120)
    kept1 = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "nstate" / "rows")).collect()
    )
    assert kept1 == [0, 1]

    # RESTART: a second file arrives with a near-dup of doc 0 (edited,
    # different exact fingerprint) plus a genuinely new doc
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({"doc_id": 2, "text": near}) + "\n")
        f.write(_json.dumps({"doc_id": 3, "text": "yet another unrelated document about benchmark medians and oracle checks for engines"}) + "\n")
    q2 = incremental_near_dedup_sink(
        stream, str(tmp_path / "nstate"), "text", "doc_id", str(tmp_path / "nckpt")
    )
    q2.awaitTermination(120)
    kept2 = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "nstate" / "rows")).collect()
    )
    # the cross-batch near-dup (2) was caught ACROSS THE RESTART; 3 kept
    assert kept2 == [0, 1, 3]
    # band store holds only survivors
    bands = spark.read.parquet(str(tmp_path / "nstate" / "bands"))
    assert set(r.doc_id for r in bands.select("doc_id").distinct().collect()) == {0, 1, 3}


def test_incremental_near_dedup_sink_in_batch_election(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import incremental_near_dedup_sink

    text = (
        "one shared boilerplate paragraph that repeats across mirror sites "
        "with only trivial word substitutions in the long body text"
    )
    src = tmp_path / "inbatch_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        # two near-dups in the SAME batch: smallest id wins
        f.write(_json.dumps({"doc_id": 10, "text": text}) + "\n")
        f.write(_json.dumps({"doc_id": 11, "text": text.replace("trivial", "minor")}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .load(str(src))
    )
    q = incremental_near_dedup_sink(
        stream, str(tmp_path / "istate"), "text", "doc_id", str(tmp_path / "ickpt")
    )
    q.awaitTermination(120)
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "istate" / "rows")).collect()
    )
    assert kept == [10]


def test_near_dedup_sink_skips_redelivered_batch(spark, tmp_path):
    """foreachBatch can redeliver a batch after a crash; the _commits
    marker must make the replay a no-op instead of duplicating rows."""
    import json as _json
    import shutil

    from datas_spark.streaming.scoring import incremental_near_dedup_sink

    src = tmp_path / "redeliver_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"doc_id": 0, "text": "a long unique document about watermark ttl compaction and streaming state stores"}) + "\n")
        f.write(_json.dumps({"doc_id": 1, "text": "another long unique document about partition overwrite modes and commit markers"}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .load(str(src))
    )
    state = str(tmp_path / "rstate")
    q = incremental_near_dedup_sink(
        stream, state, "text", "doc_id", str(tmp_path / "rckpt")
    )
    q.awaitTermination(120)
    first = spark.read.parquet(state + "/rows").collect()
    assert sorted(r.doc_id for r in first) == [0, 1]
    # redelivery: a FRESH checkpoint re-reads the same file as batch 0
    # again; the committed marker must skip it
    shutil.rmtree(str(tmp_path / "rckpt"))
    q2 = incremental_near_dedup_sink(
        stream, state, "text", "doc_id", str(tmp_path / "rckpt")
    )
    q2.awaitTermination(120)
    again = spark.read.parquet(state + "/rows").collect()
    assert sorted(r.doc_id for r in again) == [0, 1]
    assert len(again) == len(first)  # no duplicated appends


@pytest.mark.slow
def test_near_dedup_sink_replays_uncommitted_batch_without_self_match(spark, tmp_path):
    """Crash-before-commit emulation: stores hold the batch's own
    partition but no marker. The replay must exclude its own partial
    bands from the probe (no doc drops as a near-dup of itself) and
    overwrite — not append to — its partition."""
    import json as _json
    import shutil

    from datas_spark.streaming.scoring import incremental_near_dedup_sink

    src = tmp_path / "crash_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"doc_id": 5, "text": "a sufficiently long body of text about adversarial verification and oracle checked engines"}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .load(str(src))
    )
    state = str(tmp_path / "cstate")
    q = incremental_near_dedup_sink(
        stream, state, "text", "doc_id", str(tmp_path / "cckpt")
    )
    q.awaitTermination(120)
    # emulate the crash: full batch-0 store writes exist, marker doesn't
    shutil.rmtree(state + "/_commits")
    shutil.rmtree(str(tmp_path / "cckpt"))
    q2 = incremental_near_dedup_sink(
        stream, state, "text", "doc_id", str(tmp_path / "cckpt")
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(state + "/rows").collect()
    # survived its own stale bands, and exactly once
    assert [r.doc_id for r in rows] == [5]
    sigs = spark.read.parquet(state + "/sigs").collect()
    assert len(sigs) == 1


@pytest.mark.slow
def test_near_dedup_sink_ttl_compaction_plateaus_store(spark, tmp_path):
    """retain_batches must bound the probe state under a rolling
    workload (and survive a restart), while rows/ keeps every
    survivor. Docs past the horizon stop suppressing their near-dups —
    the documented rolling-window trade."""
    import json as _json

    from datas_spark.streaming.scoring import incremental_near_dedup_sink

    src = tmp_path / "ttl_src"
    src.mkdir()
    # genuinely distinct bodies (a shared template would near-dup away)
    bodies = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu amber bronze copper dusk",
        "ember forest granite harbor iris jade kestrel lagoon meadow night",
        "onyx prairie quartz ridge summit timber umber valley willow zenith",
    ]

    def write_file(i):
        with open(src / f"f{i:02d}.json", "w") as f:
            f.write(_json.dumps({"doc_id": i, "text": bodies[i]}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1).load(str(src))
    )
    state = str(tmp_path / "tstate")

    def run():
        q = incremental_near_dedup_sink(
            stream, state, "text", "doc_id", str(tmp_path / "tckpt"),
            retain_batches=2,
        )
        q.awaitTermination(180)

    for i in range(3):
        write_file(i)
    run()

    def batches_in(sub):
        import os
        root = f"{state}/{sub}"
        return sorted(
            int(d.split("=")[1]) for d in os.listdir(root)
            if d.startswith("__batch=")
        )

    # 3 batches ran; only the last 2 band/sig partitions remain
    assert batches_in("bands") == [1, 2]
    assert batches_in("sigs") == [1, 2]
    # restart with 2 more files: store plateaus at 2 batches again
    write_file(3)
    write_file(4)
    run()
    assert batches_in("bands") == [3, 4]
    # rows/ (the output) keeps every survivor across the whole run
    rows = spark.read.parquet(state + "/rows")
    assert sorted(r.doc_id for r in rows.collect()) == [0, 1, 2, 3, 4]


def test_outer_attribution_join_emits_unmatched_after_watermark(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import join_streams_outer, read_event_stream

    src = tmp_path / "outer_src"
    src.mkdir()
    # batch 1: one purchase WITH a prior click, one purchase WITHOUT
    rows1 = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00", "user_id": 1,
         "event_type": "purchase", "value": 10.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:30:00", "user_id": 2,
         "event_type": "purchase", "value": 20.0, "props": "{}"},
    ]
    # batch 2: far-future events advance the watermark past batch 1 —
    # BOTH types, because the global watermark is the min across both
    # join inputs and each filtered branch only advances on its own rows
    rows2 = [
        {"event_id": 8, "ts": "2024-01-02T12:00:00", "user_id": 3,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 9, "ts": "2024-01-02T12:00:00", "user_id": 3,
         "event_type": "purchase", "value": 0.0, "props": "{}"},
    ]
    with open(src / "a.json", "w") as f:
        for r in rows1:
            f.write(_json.dumps(r) + "\n")
    with open(src / "b.json", "w") as f:
        for r in rows2:
            f.write(_json.dumps(r) + "\n")
    # a third file/batch: the watermark a batch USES comes from the
    # previous batch's max event time, so flushing batch 1's unmatched
    # row needs one more batch after the watermark-advancing one
    with open(src / "c.json", "w") as f:
        for r in (
            {"event_id": 10, "ts": "2024-01-02T13:00:00", "user_id": 3,
             "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 11, "ts": "2024-01-02T13:00:00", "user_id": 3,
             "event_type": "purchase", "value": 0.0, "props": "{}"},
        ):
            f.write(_json.dumps(r) + "\n")

    s = read_event_stream(spark, str(src))
    # maxFilesPerTrigger forces two micro-batches under availableNow
    s = (
        spark.readStream.format("json")
        .schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    joined = join_streams_outer(
        s.where(F.col("event_type") == "click"),
        s.where(F.col("event_type") == "purchase"),
        max_gap="30 minutes",
        watermark="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_attr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "outer_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.purchase_id: r.click_ts for r in spark.table("outer_attr").collect()}
    # matched purchases carry their clicks; the unmatched purchase (3)
    # EMITTED with NULL click once the watermark passed its join bound
    assert {2, 3} <= set(got)
    assert got[2] is not None and got[3] is None
    # the watermark-advancing purchases match their same-time clicks
    assert got.get(9) is not None and got.get(11) is not None


def test_materialize_window_counts_idempotent_and_matches_batch(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import materialize_window_counts, windowed_event_agg

    src = tmp_path / "mv_src"
    src.mkdir()
    rows = []
    for i in range(24):
        # (i // 4) % 2 decorrelates type from hour (i % 4): every hour
        # window holds BOTH click and view rows
        rows.append(
            {"event_id": i, "ts": f"2024-01-01T{i % 4:02d}:{(i * 7) % 50:02d}:00",
             "user_id": i % 3, "event_type": ["click", "view"][(i // 4) % 2],
             "value": float(i), "props": "{}"}
        )
    # second micro-batch: late-but-in-watermark rows touching hour 00
    # with ONLY click events — the overwrite of that window must not
    # delete hour 00's view rows
    late = [
        {"event_id": 100 + j, "ts": f"2024-01-01T00:{j:02d}:30",
         "user_id": j, "event_type": "click", "value": 1.0, "props": "{}"}
        for j in range(5)
    ]
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    with open(src / "b.json", "w") as f:
        for r in late:
            f.write(_json.dumps(r) + "\n")

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", 1).load(str(src))
    )
    out = str(tmp_path / "mv_out")
    q = materialize_window_counts(
        stream, out, str(tmp_path / "mv_ckpt"), watermark="12 hours"
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out)
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_agg(batch, watermark="12 hours").collect()
    }
    assert got == want and len(want) > 0
    # the click-only late batch rewrote hour 00 without deleting that
    # window's view group
    import datetime as _dt

    h0 = _dt.datetime(2024, 1, 1, 0, 0)
    assert (h0, "view") in got and (h0, "click") in got
    assert got[(h0, "click")][0] == 3 + 5  # base clicks + late clicks
    # replaying the whole stream into the same store is idempotent
    q2 = materialize_window_counts(
        stream, out, str(tmp_path / "mv_ckpt2"), watermark="12 hours"
    )
    q2.awaitTermination(120)
    again = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out)
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
    }
    assert again == want


def test_incremental_hll_sink_counts_and_compacts(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import (
        hll_state_estimate,
        incremental_hll_sink,
    )

    src = tmp_path / "hll_src"
    src.mkdir()
    # 3 files -> 3 micro-batches; overlapping user ids across batches
    for f, ids in (("a", range(0, 40)), ("b", range(20, 70)), ("c", range(50, 100))):
        with open(src / f"{f}.json", "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"user_id": i}) + "\n")

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = incremental_hll_sink(
            stream,
            str(tmp_path / "hll_state"),
            "user_id",
            str(tmp_path / "hll_ckpt"),
            p=12,
            compact_every=2,
        )
        q.awaitTermination(120)

    run()
    est = hll_state_estimate(spark, str(tmp_path / "hll_state"), p=12).collect()[0]
    # 100 true distincts; p=12 linear-counting regime is tight
    assert est["estimate"] == pytest.approx(100, rel=0.05)

    # compaction: the store folds into <= compact_every partitions
    import glob as _glob

    parts = _glob.glob(str(tmp_path / "hll_state" / "regs" / "__batch=*"))
    assert 1 <= len(parts) <= 2

    # restart with a fourth file: state continues, no double counting
    with open(src / "d.json", "w") as fh:
        for i in range(90, 120):
            fh.write(_json.dumps({"user_id": i}) + "\n")
    run()
    est2 = hll_state_estimate(spark, str(tmp_path / "hll_state"), p=12).collect()[0]
    assert est2["estimate"] == pytest.approx(120, rel=0.05)

    # replay idempotence: re-running with NO new data changes nothing
    before = est2["estimate"]
    run()
    after = hll_state_estimate(spark, str(tmp_path / "hll_state"), p=12).collect()[0]
    assert after["estimate"] == before


def test_hll_state_estimate_empty(spark, tmp_path):
    from datas_spark.streaming.scoring import hll_state_estimate

    r = hll_state_estimate(spark, str(tmp_path / "nope"), p=12).collect()[0]
    assert r["estimate"] == 0.0 and r["buckets_used"] == 0


def test_incremental_cms_sink_counts_exactly_and_folds(spark, tmp_path):
    import glob as _glob
    import json as _json

    from datas_spark.streaming.scoring import (
        cms_state_estimates,
        incremental_cms_sink,
    )

    src = tmp_path / "cms_src"
    src.mkdir()
    # 3 batches; key frequencies known exactly
    freqs = {"a": 30, "b": 12, "c": 5}
    for i, f in enumerate(("x", "y", "z")):
        with open(src / f"{f}.json", "w") as fh:
            for k, n in freqs.items():
                for _ in range(n // 3 + (i < n % 3)):
                    fh.write(_json.dumps({"k": k}) + "\n")

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("k string")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = incremental_cms_sink(
            stream, str(tmp_path / "cms_state"), "k",
            str(tmp_path / "cms_ckpt"), depth=4, width=2048, compact_every=2,
        )
        q.awaitTermination(120)

    run()
    probes = spark.createDataFrame([(k,) for k in freqs], "k: string")
    est = {
        r["k"]: r["est_count"]
        for r in cms_state_estimates(
            spark, str(tmp_path / "cms_state"), probes, "k", depth=4, width=2048
        ).collect()
    }
    # wide sketch + tiny domain -> exact
    assert est == freqs

    # fold-compaction bounded the live partitions
    parts = _glob.glob(str(tmp_path / "cms_state" / "regs" / "__batch=*"))
    assert len(parts) <= 2

    # replay idempotence: re-run with no new data -> unchanged (sum
    # merge is NOT idempotent, so this exercises the commit guard)
    run()
    est2 = {
        r["k"]: r["est_count"]
        for r in cms_state_estimates(
            spark, str(tmp_path / "cms_state"), probes, "k", depth=4, width=2048
        ).collect()
    }
    assert est2 == freqs

    # an uncommitted (crashed, half-written) partition is invisible
    from datas_spark.operators.sketches import cms_registers

    junk = cms_registers(
        spark.createDataFrame([("a",)] * 1000, "k: string"), "k", depth=4, width=2048
    )
    junk.withColumn("__batch", F.lit(999)).write.mode("append").partitionBy(
        "__batch"
    ).parquet(str(tmp_path / "cms_state" / "regs"))
    est3 = {
        r["k"]: r["est_count"]
        for r in cms_state_estimates(
            spark, str(tmp_path / "cms_state"), probes, "k", depth=4, width=2048
        ).collect()
    }
    assert est3 == freqs


def test_cms_state_estimates_empty(spark, tmp_path):
    from datas_spark.streaming.scoring import cms_state_estimates

    probes = spark.createDataFrame([("q",)], "k: string")
    got = cms_state_estimates(spark, str(tmp_path / "none"), probes, "k").collect()
    assert got[0]["est_count"] == 0


def test_quarantine_sink_routes_and_is_replay_safe(spark, tmp_path):
    import json as _json

    from pyspark.sql import functions as F

    from datas_spark.streaming.scoring import quarantine_sink

    src = tmp_path / "q_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"id": 1, "v": 5}) + "\n")
        f.write(_json.dumps({"id": 2, "v": -1}) + "\n")
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({"id": 3, "v": None}) + "\n")
        f.write(_json.dumps({"id": 4, "v": 7}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("id bigint, v int")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    rules = {"v_pos": F.col("v") >= 0}
    good_path, bad_path = str(tmp_path / "good"), str(tmp_path / "bad")
    q = quarantine_sink(stream, rules, good_path, bad_path, str(tmp_path / "ck"))
    q.awaitTermination(120)
    good = sorted(r.id for r in spark.read.parquet(good_path + "/rows").collect())
    bad = {
        r.id: r.failed_rules for r in spark.read.parquet(bad_path).collect()
    }
    assert good == [1, 4]
    assert set(bad) == {2, 3}               # NULL predicate quarantines
    assert all('"v_pos"' in v for v in bad.values())

    # restart over the same checkpoint: committed batches skip, output
    # unchanged (idempotent replay)
    q2 = quarantine_sink(stream, rules, good_path, bad_path, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    assert sorted(
        r.id for r in spark.read.parquet(good_path + "/rows").collect()
    ) == [1, 4]
    assert spark.read.parquet(bad_path).count() == 2


def test_drift_monitor_flags_distribution_shift(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import drift_monitor_sink

    src = tmp_path / "drift_src"
    src.mkdir()
    # batch a: same vocabulary as the reference; batch b: shifted
    with open(src / "a.json", "w") as f:
        for i in range(20):
            f.write(_json.dumps({"doc_id": i, "text": "alpha beta gamma delta"}) + "\n")
    with open(src / "b.json", "w") as f:
        for i in range(20, 40):
            f.write(_json.dumps({"doc_id": i, "text": "zeta eta theta iota"}) + "\n")

    reference = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(50)],
        "doc_id bigint, text string",
    )
    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    metrics = str(tmp_path / "metrics")
    q = drift_monitor_sink(stream, reference, "text", metrics, str(tmp_path / "ck"))
    q.awaitTermination(120)
    rows = {
        r["__batch"]: r
        for r in spark.read.parquet(metrics + "/rows").collect()
    }
    assert len(rows) == 2
    js = sorted(r.js_total for r in rows.values())
    # in-distribution batch ~0; shifted batch clearly positive
    assert js[0] < 0.05
    assert js[1] > 0.2
    assert all(r.n_docs == 20 for r in rows.values())

    # replay over the same checkpoint adds nothing
    q2 = drift_monitor_sink(stream, reference, "text", metrics, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    assert spark.read.parquet(metrics + "/rows").count() == 2


def test_trending_topk_sink_counts_and_folds(spark, tmp_path):
    import glob as _glob
    import json as _json

    from datas_spark.streaming.scoring import (
        trending_state_topk,
        trending_topk_sink,
    )

    src = tmp_path / "tr_src"
    src.mkdir()
    freqs = {"a": 30, "b": 12, "c": 5, "d": 1}
    for i, f in enumerate(("x", "y", "z")):
        with open(src / f"{f}.json", "w") as fh:
            for k, n in freqs.items():
                for _ in range(n // 3 + (i < n % 3)):
                    fh.write(_json.dumps({"k": k}) + "\n")

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("k string")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = trending_topk_sink(
            stream, str(tmp_path / "tr_state"), "k",
            str(tmp_path / "tr_ckpt"), compact_every=2,
        )
        q.awaitTermination(120)

    run()
    top = trending_state_topk(spark, str(tmp_path / "tr_state"), k=3).collect()
    assert [(r.item, r.cnt) for r in top] == [("a", 30), ("b", 12), ("c", 5)]

    # fold bounded the live partitions
    parts = _glob.glob(str(tmp_path / "tr_state" / "counts" / "__batch=*"))
    assert len(parts) <= 2

    # replay idempotence (sum merge is not idempotent → commit guard)
    run()
    top2 = trending_state_topk(spark, str(tmp_path / "tr_state"), k=3).collect()
    assert [(r.item, r.cnt) for r in top2] == [("a", 30), ("b", 12), ("c", 5)]

    # half-written uncommitted partition is invisible
    junk = spark.createDataFrame([("a", 999)], "item string, cnt long")
    junk.withColumn("__batch", F.lit(999)).write.mode("append").partitionBy(
        "__batch"
    ).parquet(str(tmp_path / "tr_state" / "counts"))
    top3 = trending_state_topk(spark, str(tmp_path / "tr_state"), k=3).collect()
    assert [(r.item, r.cnt) for r in top3] == [("a", 30), ("b", 12), ("c", 5)]


def test_trending_state_topk_empty(spark, tmp_path):
    from datas_spark.streaming.scoring import trending_state_topk

    assert trending_state_topk(spark, str(tmp_path / "none")).collect() == []


def test_ewma_anomaly_stream_flags_spike_after_warmup(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import ewma_anomaly_stream

    src = tmp_path / "ewma_src"
    src.mkdir()
    # user 1: steady 10.0 baseline, then a 100.0 spike in a later batch;
    # user 2: steady throughout → no anomalies
    base = "2024-01-01T00:{m:02d}:00.000Z"
    with open(src / "a.json", "w") as fh:
        for i in range(8):
            fh.write(_json.dumps({"user_id": 1, "ts": base.format(m=i), "value": 10.0}) + "\n")
            fh.write(_json.dumps({"user_id": 2, "ts": base.format(m=i), "value": 5.0}) + "\n")
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps({"user_id": 1, "ts": base.format(m=30), "value": 100.0}) + "\n")
        fh.write(_json.dumps({"user_id": 2, "ts": base.format(m=30), "value": 5.0}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = ewma_anomaly_stream(stream, threshold_sigmas=3.0, min_baseline=5)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_anoms")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ewma_anoms").collect()
    # constant series have ewm_var 0 → only the genuine spike fires
    assert [(r.user_id, r.value) for r in rows] == [(1, 100.0)]
    assert abs(rows[0].ewma - 10.0) < 1e-9
    import math as _math
    assert rows[0].zscore == _math.inf  # constant baseline → infinite z


def test_ewma_anomaly_stream_generic_key_and_value_types(spark, tmp_path):
    # the output schema derives key/ts types from the input stream: a
    # string-keyed, bigint-valued stream must work without casts
    import json as _json

    from datas_spark.streaming.scoring import ewma_anomaly_stream

    src = tmp_path / "ewma_src_str"
    src.mkdir()
    base = "2024-01-01T00:{m:02d}:00.000Z"
    with open(src / "a.json", "w") as fh:
        for i in range(8):
            fh.write(_json.dumps({"k": "host-a", "ts": base.format(m=i), "v": 10}) + "\n")
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps({"k": "host-a", "ts": base.format(m=30), "v": 100}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("k string, ts timestamp, v bigint")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = ewma_anomaly_stream(
        stream, key_col="k", value_col="v", threshold_sigmas=3.0, min_baseline=5
    )
    assert dict(
        (f.name, f.dataType.simpleString()) for f in out.schema.fields
    ) == {
        "k": "string",
        "ts": "timestamp",
        "v": "double",
        "ewma": "double",
        "zscore": "double",
    }
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_anoms_str")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt_str"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ewma_anoms_str").collect()
    assert [(r.k, r.v) for r in rows] == [("host-a", 100.0)]


# ---------------------------------------------------------------------------
# Uniform kill-and-resume drill: every stateful sink type is stopped
# mid-stream (after a prefix of its micro-batches), resumed over the
# same checkpoint + state, and the final state must equal a control run
# that processed the whole stream uninterrupted (separate dirs). Batch
# boundaries match across both runs (maxFilesPerTrigger=1), so this
# isolates restart handling — commit markers, fold watermarks, replay
# exclusion — from batching effects.
# ---------------------------------------------------------------------------


def _drill_neardup(spark, src, root):
    from datas_spark.streaming.scoring import incremental_near_dedup_sink

    stream = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = incremental_near_dedup_sink(
        stream, root + "/state", "text", "doc_id", root + "/ckpt"
    )
    q.awaitTermination(120)


def _state_neardup(spark, root):
    rows = sorted(
        r.doc_id for r in spark.read.parquet(root + "/state/rows").collect()
    )
    bands = sorted(
        r.doc_id
        for r in spark.read.parquet(root + "/state/bands")
        .select("doc_id")
        .distinct()
        .collect()
    )
    return (rows, bands)


def _data_neardup(i):
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long familiar tune about distributed systems and data quality"
    )
    docs = [
        [(0, base), (1, "totally unrelated text about shuffle partitions and adaptive execution plans")],
        [(2, base.replace("lazy", "sleepy")), (3, "another unrelated doc on oracle checks and bench medians for engines")],
        [(4, base.replace("quick", "rapid")), (5, "fresh content concerning broadcast joins and skew salting strategies")],
    ]
    return [{"doc_id": d, "text": t} for d, t in docs[i]]


def _drill_hll(spark, src, root):
    from datas_spark.streaming.scoring import incremental_hll_sink

    stream = (
        spark.readStream.format("json")
        .schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = incremental_hll_sink(
        stream, root + "/state", "user_id", root + "/ckpt", p=12, compact_every=2
    )
    q.awaitTermination(120)


def _state_hll(spark, root):
    from datas_spark.streaming.scoring import hll_state_estimate

    r = hll_state_estimate(spark, root + "/state", p=12).collect()[0]
    return (r["estimate"], r["buckets_used"])


def _data_hll(i):
    return [{"user_id": v} for v in range(i * 30, i * 30 + 50)]


def _drill_cms(spark, src, root):
    from datas_spark.streaming.scoring import incremental_cms_sink

    stream = (
        spark.readStream.format("json")
        .schema("k string")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = incremental_cms_sink(
        stream, root + "/state", "k", root + "/ckpt",
        depth=4, width=256, compact_every=2,
    )
    q.awaitTermination(120)


def _state_cms(spark, root):
    from datas_spark.streaming.scoring import cms_state_estimates

    probes = (
        spark.range(1)
        .sparkSession.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "k string")
    )
    rows = cms_state_estimates(
        spark, root + "/state", probes, "k", depth=4, width=256
    ).collect()
    return sorted((r.k, r.est_count) for r in rows)


def _data_cms(i):
    out = []
    for k, n in (("a", 10 + i), ("b", 5), ("c", 1 + 2 * i)):
        out.extend({"k": k} for _ in range(n))
    return out


def _drill_trending(spark, src, root):
    from datas_spark.streaming.scoring import trending_topk_sink

    stream = (
        spark.readStream.format("json")
        .schema("k string")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = trending_topk_sink(
        stream, root + "/state", "k", root + "/ckpt", compact_every=2
    )
    q.awaitTermination(120)


def _state_trending(spark, root):
    from datas_spark.streaming.scoring import trending_state_topk

    return [
        (r.item, r.cnt)
        for r in trending_state_topk(spark, root + "/state", k=5).collect()
    ]


def _drill_quarantine(spark, src, root):
    from datas_spark.streaming.scoring import quarantine_sink

    stream = (
        spark.readStream.format("json")
        .schema("id bigint, v int")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    rules = {"v_pos": F.col("v") >= 0}
    q = quarantine_sink(
        stream, rules, root + "/good", root + "/bad", root + "/ckpt"
    )
    q.awaitTermination(120)


def _state_quarantine(spark, root):
    good = sorted(
        r.id for r in spark.read.parquet(root + "/good/rows").collect()
    )
    bad = sorted(
        (r.id, r.failed_rules) for r in spark.read.parquet(root + "/bad").collect()
    )
    return (good, bad)


def _data_quarantine(i):
    return [
        {"id": i * 10 + j, "v": (j - 1) if (i + j) % 3 else None}
        for j in range(4)
    ]


def _drill_scd2(spark, src, root):
    from datas_spark.streaming.scoring import scd2_sink

    stream = (
        spark.readStream.format("json")
        .schema("k bigint, ts bigint, seq bigint, a string")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = scd2_sink(
        stream, root + "/state", ["k"], ["a"], "ts", "seq", root + "/ckpt"
    )
    q.awaitTermination(120)


def _state_scd2(spark, root):
    from datas_spark.streaming.scoring import scd2_state

    scd = scd2_state(spark, root + "/state")
    assert scd is not None
    return sorted(
        (r.k, r.a, r.valid_from, r.valid_to, r.change_seq, r.is_current)
        for r in scd.collect()
    )


def _data_scd2(i):
    # key 1 flips value every batch; key 2 repeats the same value
    # (collapses to ONE run across all batches); key 3 appears late
    rows = [
        {"k": 1, "ts": 100 + 10 * i, "seq": 10 * i + 1, "a": f"v{i}"},
        {"k": 2, "ts": 100 + 10 * i, "seq": 10 * i + 2, "a": "const"},
    ]
    if i == 2:
        rows.append({"k": 3, "ts": 130, "seq": 99, "a": "born"})
    return rows


def test_scd2_sink_state_shape(spark, tmp_path):
    """Cross-batch semantics: a key flipping per batch grows one run per
    flip; a key repeating its value collapses to ONE run spanning all
    batches; exactly one run per key is current."""
    import json as _json
    import os as _os

    src = str(tmp_path / "src"); _os.makedirs(src)
    root = str(tmp_path / "root")
    for i in range(3):
        with open(_os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in _data_scd2(i):
                fh.write(_json.dumps(row) + "\n")
    _drill_scd2(spark, src, root)

    from datas_spark.streaming.scoring import scd2_state

    scd = scd2_state(spark, root + "/state")
    by_key = {}
    for r in scd.collect():
        by_key.setdefault(r.k, []).append(r)
    assert len(by_key[1]) == 3  # v0 -> v1 -> v2
    assert len(by_key[2]) == 1  # const collapses across batches
    assert by_key[2][0].valid_from == 100 and by_key[2][0].is_current
    assert len(by_key[3]) == 1 and by_key[3][0].a == "born"
    for k, runs in by_key.items():
        assert sum(r.is_current for r in runs) == 1


def _drill_ivm(spark, src, root):
    from datas_spark.streaming.scoring import ivm_join_view_sink

    stream = (
        spark.readStream.format("json")
        .schema("side string, k long, av string, bv long")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = ivm_join_view_sink(
        stream, root + "/state", "side", ["k"], ["av"], ["bv"], root + "/ckpt"
    )
    q.awaitTermination(120)


def _state_ivm(spark, root):
    from datas_spark.streaming.scoring import ivm_view_state

    view = ivm_view_state(spark, root + "/state")
    assert view is not None
    return sorted((r.k, r.av, r.bv) for r in view.collect())


def _data_ivm(i):
    # keys join ACROSS batches in both directions; duplicates of (k, v)
    # never sent, so the exact view == full join of everything sent
    rows = [
        {"side": "a", "k": i + 1, "av": f"a{i + 1}"},
        {"side": "b", "k": i, "bv": 10 * i},
    ]
    if i == 2:
        rows.append({"side": "b", "k": 1, "bv": 999})
    return rows


def test_ivm_join_view_matches_batch_join(spark, tmp_path):
    """The maintained view == a from-scratch join of every row sent."""
    import json as _json
    import os as _os

    src = str(tmp_path / "src"); _os.makedirs(src)
    root = str(tmp_path / "root")
    all_rows = []
    for i in range(3):
        with open(_os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in _data_ivm(i):
                fh.write(_json.dumps(row) + "\n")
                all_rows.append(row)
    _drill_ivm(spark, src, root)
    a = [(r["k"], r["av"]) for r in all_rows if r["side"] == "a"]
    b = [(r["k"], r["bv"]) for r in all_rows if r["side"] == "b"]
    expected = sorted(
        (ka, av, bv) for ka, av in a for kb, bv in b if ka == kb
    )
    assert _state_ivm(spark, root) == expected
    assert expected  # the fixture genuinely produces cross-batch joins


_RESTART_DRILLS = [
    ("ivm", _drill_ivm, _state_ivm, _data_ivm),
    ("scd2", _drill_scd2, _state_scd2, _data_scd2),
    ("neardup", _drill_neardup, _state_neardup, _data_neardup),
    ("hll", _drill_hll, _state_hll, _data_hll),
    ("cms", _drill_cms, _state_cms, _data_cms),
    ("trending", _drill_trending, _state_trending, _data_trending := (
        lambda i: [{"k": k} for k, n in (("a", 9 + i), ("b", 4), ("c", 2 * i + 1)) for _ in range(n)]
    )),
    ("quarantine", _drill_quarantine, _state_quarantine, _data_quarantine),
]


@pytest.mark.parametrize(
    "name,drill,state,data", _RESTART_DRILLS, ids=[d[0] for d in _RESTART_DRILLS]
)
@pytest.mark.slow
def test_sink_restart_equals_uninterrupted(spark, tmp_path, name, drill, state, data):
    import json as _json

    def write_file(src, i):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in data(i):
                fh.write(_json.dumps(row) + "\n")

    # interrupted: batch 0, STOP (the availableNow query terminates —
    # the mid-stream kill point), then resume for batches 1-2 over the
    # same checkpoint + state
    src_a = str(tmp_path / "src_a"); os.makedirs(src_a)
    root_a = str(tmp_path / "a")
    write_file(src_a, 0)
    drill(spark, src_a, root_a)
    write_file(src_a, 1)
    write_file(src_a, 2)
    drill(spark, src_a, root_a)

    # control: same three files upfront, one uninterrupted run
    src_b = str(tmp_path / "src_b"); os.makedirs(src_b)
    root_b = str(tmp_path / "b")
    for i in range(3):
        write_file(src_b, i)
    drill(spark, src_b, root_b)

    assert state(spark, root_a) == state(spark, root_b)


@pytest.mark.parametrize(
    "name,drill,state,data", _RESTART_DRILLS, ids=[d[0] for d in _RESTART_DRILLS]
)
@pytest.mark.slow
def test_sink_skips_redelivered_batches(spark, tmp_path, name, drill, state, data):
    """A fresh checkpoint over the same source redelivers every batch
    id; the replay guard must skip each one under its marker name
    (plain or ``-fold``), leaving the state and every store file as the
    first run wrote them."""
    import json as _json
    import shutil

    src = str(tmp_path / "src"); os.makedirs(src)
    root = str(tmp_path / "root")
    for i in range(3):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in data(i):
                fh.write(_json.dumps(row) + "\n")

    def store_files():
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, files in os.walk(root)
            if not os.path.relpath(d, root).startswith("ckpt")
            for f in files
        )

    drill(spark, src, root)
    first, files = state(spark, root), store_files()
    shutil.rmtree(root + "/ckpt")
    drill(spark, src, root)
    assert state(spark, root) == first
    assert store_files() == files


@pytest.mark.parametrize("backend", ["literal", "join"])
def test_decontamination_sink_routes_and_restart_safe(spark, tmp_path, backend):
    import json as _json

    from datas_spark.streaming.scoring import decontamination_sink

    bench_text = (
        "the forbidden benchmark passage about spark adaptive execution "
        "that must never leak into any training corpus at all"
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")

    src = tmp_path / "dc_src"
    src.mkdir()
    clean_doc = "completely original writing with zero overlap whatsoever against anything"
    leaky_doc = f"prefix words then {bench_text} and a suffix"
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": clean_doc}) + "\n")
        f.write(_json.dumps({"doc_id": 2, "text": leaky_doc}) + "\n")

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = decontamination_sink(
            stream, bench,
            str(tmp_path / "clean"), str(tmp_path / "flagged"),
            str(tmp_path / "dc_ckpt"), backend=backend,
        )
        q.awaitTermination(120)

    run()
    clean = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "clean/rows")).collect()
    )
    flagged = {
        r.doc_id: r for r in spark.read.parquet(str(tmp_path / "flagged")).collect()
    }
    assert clean == [1]
    assert set(flagged) == {2}
    assert flagged[2].n_hits > 0 and flagged[2].n_shingles > flagged[2].n_hits

    # restart with a second file: committed batch skips, new doc routes
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({"doc_id": 3, "text": "more fresh prose nothing shared here either truly"}) + "\n")
    run()
    clean2 = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "clean/rows")).collect()
    )
    assert clean2 == [1, 3]
    assert spark.read.parquet(str(tmp_path / "flagged")).count() == 1


def test_enrich_stream_with_components_artifact(spark, tmp_path, monkeypatch):
    """The round-5 artifact store works as a streaming dimension: a doc
    stream joins the persisted (node, component) parquet map-side and
    every micro-batch row carries its near-dup component label."""
    import json as _json

    from datas_spark.operators import artifacts as ART
    from datas_spark.streaming.scoring import enrich_stream

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    comp = ART.components_artifact(
        spark, "/root/testdata/sf0.001", "jaccard"
    ).withColumnRenamed("node", "doc_id")

    src = tmp_path / "es_src"
    src.mkdir()
    some_node = comp.first()
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"doc_id": int(some_node["doc_id"])}) + "\n")
        f.write(_json.dumps({"doc_id": 10**9}) + "\n")  # unknown doc
    stream = (
        spark.readStream.format("json").schema("doc_id bigint").load(str(src))
    )
    out = _run_append_stream(
        spark, enrich_stream(stream, comp, "doc_id"), "artifact_enriched"
    ).collect()
    by_id = {r.doc_id: r.component for r in out}
    assert by_id[some_node["doc_id"]] == some_node["component"]
    assert by_id[10**9] is None  # left join: unknown docs pass through


# ---------------------------------------------------------------------------
# round 6: streaming semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------


def test_semantic_decontamination_sink_routes_and_restart_safe(spark, tmp_path):
    import json as _json

    from datas_spark.streaming.scoring import semantic_decontamination_sink

    bench_vec = [1.0, 0.0, 0.0, 0.0]
    bench = spark.createDataFrame([(100, bench_vec)], "vec_id long, embedding array<double>")

    src = tmp_path / "sdc_src"
    src.mkdir()
    near = [0.99, 0.05, 0.0, 0.0]     # cos ~0.999 vs bench
    far = [0.0, 1.0, 0.0, 0.0]        # orthogonal
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({"vec_id": 1, "embedding": near}) + "\n")
        f.write(_json.dumps({"vec_id": 2, "embedding": far}) + "\n")

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = semantic_decontamination_sink(
            stream, bench, "vec_id", "embedding",
            str(tmp_path / "sdc_flagged"), str(tmp_path / "sdc_clean"),
            str(tmp_path / "sdc_ckpt"), threshold=0.9, n_planes=2,
        )
        q.awaitTermination(120)

    run()
    flagged = {r.vec_id: r for r in spark.read.parquet(str(tmp_path / "sdc_flagged/rows")).collect()}
    clean = sorted(r.vec_id for r in spark.read.parquet(str(tmp_path / "sdc_clean")).collect())
    assert set(flagged) == {1}
    assert flagged[1].n_matches == 1 and flagged[1].max_cos > 0.99
    assert clean == [2]

    # restart with a second file: committed batch skipped, new rows route
    near2 = [0.95, -0.05, 0.0, 0.0]
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({"vec_id": 3, "embedding": near2}) + "\n")
        f.write(_json.dumps({"vec_id": 4, "embedding": [0.0, 0.0, 1.0, 0.0]}) + "\n")
    run()
    flagged = sorted(r.vec_id for r in spark.read.parquet(str(tmp_path / "sdc_flagged/rows")).collect())
    clean = sorted(r.vec_id for r in spark.read.parquet(str(tmp_path / "sdc_clean")).collect())
    assert flagged == [1, 3]
    assert clean == [2, 4]


def test_enrich_stream_scd2_point_in_time(spark, tmp_path):
    """Events are enriched with the dimension run covering their EVENT
    TIME: an event replayed from before a flip gets the old value, one
    after gets the new, one before the key existed gets NULL."""
    import json as _json

    from datas_spark.operators.cdc import scd2_from_changelog
    from datas_spark.streaming.scoring import enrich_stream_scd2

    log = spark.createDataFrame(
        [(1, 100, 1, "old"), (1, 200, 2, "new"), (2, 150, 3, "only")],
        "k long, ts long, seq long, a string",
    )
    scd = scd2_from_changelog(log, ["k"], ["a"], "ts", "seq")

    src = tmp_path / "src"
    src.mkdir()
    events = [
        {"eid": 10, "k": 1, "ts": 150},  # inside [100, 200) -> old
        {"eid": 11, "k": 1, "ts": 200},  # at the flip -> new
        {"eid": 12, "k": 1, "ts": 50},   # pre-history -> NULL
        {"eid": 13, "k": 2, "ts": 500},  # open run -> only
    ]
    with open(src / "a.json", "w") as fh:
        for e in events:
            fh.write(_json.dumps(e) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("eid long, k long, ts long")
        .load(str(src))
    )
    out = _run_append_stream(
        spark, enrich_stream_scd2(stream, scd, ["k"], "ts"), "scd2_enriched"
    ).collect()
    got = {r.eid: r.a for r in out}
    assert got == {10: "old", 11: "new", 12: None, 13: "only"}
    assert len(out) == 4  # disjoint runs: never a fan-out


@pytest.mark.slow
def test_ivm_compaction_preserves_protocol(spark, tmp_path):
    """VERDICT r6 #4 done-criterion: the kill-and-resume drill still
    passes after a MID-STREAM offline compaction, and the store's file
    count is bounded (one partition dir per store) afterwards."""
    import json as _json

    from datas_spark.streaming.scoring import compact_ivm_store

    def write_file(src, i):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in _data_ivm(i):
                fh.write(_json.dumps(row) + "\n")

    src_a = str(tmp_path / "src_a"); os.makedirs(src_a)
    root_a = str(tmp_path / "a")
    write_file(src_a, 0)
    write_file(src_a, 1)
    _drill_ivm(spark, src_a, root_a)
    # offline compaction between the kill and the resume
    report = compact_ivm_store(spark, root_a + "/state", target_file_bytes=1 << 30)
    assert report["view"]["folded_batches"] >= 1
    write_file(src_a, 2)
    _drill_ivm(spark, src_a, root_a)

    src_b = str(tmp_path / "src_b"); os.makedirs(src_b)
    root_b = str(tmp_path / "b")
    for i in range(3):
        write_file(src_b, i)
    _drill_ivm(spark, src_b, root_b)
    assert _state_ivm(spark, root_a) == _state_ivm(spark, root_b)

    # file count bounded: compact again after the resume and every
    # store must collapse to ONE partition dir with n_files files
    compact_ivm_store(spark, root_a + "/state", target_file_bytes=1 << 30)
    for sub in ("a", "b", "view"):
        store = os.path.join(root_a, "state", sub)
        parts = [d for d in os.listdir(store) if d.startswith("__batch=")]
        assert len(parts) == 1, (sub, parts)
        files = [
            f for f in os.listdir(os.path.join(store, parts[0]))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (sub, files)
    # and the compacted store still answers correctly
    assert _state_ivm(spark, root_a) == _state_ivm(spark, root_b)


def test_ivm_compaction_crash_recovery(spark, tmp_path):
    """A compactor crash at the worst point (store renamed away, swap
    not finished) must be healed by the next compact call."""
    import json as _json
    import shutil

    from datas_spark.streaming.scoring import compact_ivm_store

    src = str(tmp_path / "src"); os.makedirs(src)
    root = str(tmp_path / "root")
    # two batches: batch 0 alone joins nothing (empty view partition)
    for i in range(2):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in _data_ivm(i):
                fh.write(_json.dumps(row) + "\n")
    _drill_ivm(spark, src, root)
    before = _state_ivm(spark, root)

    # legacy (pre-marker) crash shape: compacted copy fully written,
    # then crash mid-swap with the store renamed to the backup and no
    # new store in place
    view = os.path.join(root, "state", "view")
    shutil.copytree(view, view + ".__compact")
    os.rename(view, view + ".__precompact")
    assert not os.path.exists(view)

    compact_ivm_store(spark, root + "/state", target_file_bytes=1 << 30)
    assert _state_ivm(spark, root) == before


@pytest.mark.slow
def test_ivm_compaction_marker_protocol_crashes(spark, tmp_path):
    """The marker-verified swap (ADVICE r7: object-store rename is
    copy-then-delete, so completion must be PROVEN, not assumed) heals
    every new-protocol crash point: (a) verified compacted copy, store
    already deleted → roll forward; (b) unverified compacted copy (no
    marker — the crash-mid-write shape) → discarded, store untouched;
    (c) marker present but row count wrong (the half-copied-dir shape
    where the tiny marker file copied first) → NOT trusted."""
    import glob
    import json as _json
    import shutil

    from datas_spark.streaming.scoring import compact_ivm_store

    src = str(tmp_path / "src"); os.makedirs(src)
    root = str(tmp_path / "root")
    for i in range(2):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for row in _data_ivm(i):
                fh.write(_json.dumps(row) + "\n")
    _drill_ivm(spark, src, root)
    before = _state_ivm(spark, root)
    view = os.path.join(root, "state", "view")
    n_rows = spark.read.parquet(view).count()

    # (b) unverified compacted copy: discarded, normal compaction runs
    shutil.copytree(view, view + ".__compact")
    compact_ivm_store(spark, root + "/state", target_file_bytes=1 << 30)
    assert not os.path.exists(view + ".__compact")
    assert _state_ivm(spark, root) == before

    # (a) verified copy, store deleted (crash between delete and
    # rename): recovery must roll FORWARD from the compacted copy
    shutil.copytree(view, view + ".__compact")
    copy_rows = spark.read.parquet(view + ".__compact").count()
    open(os.path.join(view + ".__compact", f"_compact_ok_{copy_rows}"), "w").close()
    shutil.rmtree(view)
    compact_ivm_store(spark, root + "/state", target_file_bytes=1 << 30)
    assert os.path.exists(view)
    assert not glob.glob(os.path.join(view, "_compact_ok_*"))
    assert _state_ivm(spark, root) == before

    # (c) marker row count disagrees with the data (half-copied dir):
    # the copy must NOT be trusted — it is discarded and the intact
    # store survives
    shutil.copytree(view, view + ".__compact")
    open(
        os.path.join(view + ".__compact", f"_compact_ok_{n_rows + 999}"), "w"
    ).close()
    compact_ivm_store(spark, root + "/state", target_file_bytes=1 << 30)
    assert not os.path.exists(view + ".__compact")
    assert _state_ivm(spark, root) == before


def test_sequential_monitor_sink_accumulates_and_survives_restart(spark, tmp_path):
    """The streaming experiment monitor: moments accumulate across
    micro-batches, replays are short-circuited by commit markers, a
    restart with new data continues the experiment, and the readout
    equals the batch `sequential_looks` computation over all data."""
    import json as _json

    from datas_spark.streaming.scoring import (
        sequential_monitor_sink,
        sequential_monitor_state,
    )

    src = tmp_path / "sm_src"
    src.mkdir()
    # three files -> three micro-batches; arm 1 has a +10 shift
    all_rows = []
    for f, rng in (("a", range(0, 40)), ("b", range(40, 80)), ("c", range(80, 120))):
        with open(src / f"{f}.json", "w") as fh:
            for i in rng:
                arm = i % 2
                y = (i // 2) % 20 + (10 if arm else 0)
                all_rows.append((arm, y))
                fh.write(_json.dumps({"arm": arm, "y": y}) + "\n")

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("arm int, y bigint")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = sequential_monitor_sink(
            stream,
            str(tmp_path / "sm_state"),
            "arm",
            "y",
            str(tmp_path / "sm_ckpt"),
            compact_every=2,
        )
        q.awaitTermination(120)

    run()
    r = sequential_monitor_state(spark, str(tmp_path / "sm_state"), look=1).collect()[0]
    assert (r.n_treat, r.n_control) == (60, 60)
    assert r.obf_bound == 4.333

    # the streamed readout must equal the batch computation on all data
    from datas_spark.operators.events import sequential_looks

    batch = spark.createDataFrame(
        [(1, a, y) for a, y in all_rows], "look int, arm int, y long"
    )
    b = sequential_looks(batch, "look", "arm", "y").collect()[0]
    assert (r.diff, r.se, r.z, r.crossed) == (b.diff, b.se, b.z, b.crossed)

    # replay idempotence: re-running with no new data changes nothing
    run()
    r2 = sequential_monitor_state(spark, str(tmp_path / "sm_state"), look=2).collect()[0]
    assert (r2.n_treat, r2.n_control, r2.diff) == (60, 60, r.diff)
    assert r2.obf_bound == 2.963  # look picks the boundary

    # restart with a fourth file: experiment continues
    with open(src / "d.json", "w") as fh:
        for i in range(120, 160):
            arm = i % 2
            fh.write(_json.dumps({"arm": arm, "y": (i // 2) % 20 + (10 if arm else 0)}) + "\n")
    run()
    r3 = sequential_monitor_state(spark, str(tmp_path / "sm_state"), look=4).collect()[0]
    assert (r3.n_treat, r3.n_control) == (80, 80)

    # compaction bounded the store
    import glob as _glob

    parts = _glob.glob(str(tmp_path / "sm_state" / "moments" / "__batch=*"))
    assert 1 <= len(parts) <= 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sequential_monitor_state(spark, str(tmp_path / "sm_state"), look=9)
