"""Structured Streaming operators — north-star extension (SURVEY §2.9;
the reference has no streaming of any kind).

Design: every transform here is the SAME Column-expression logic the
batch engine uses — a streaming DataFrame goes through identical
``withColumn``/``groupBy(window)`` plans, which is the whole point of
re-expressing the reference on Spark: one set of operator semantics,
two execution modes. The batch twin of ``windowed_event_agg`` is
oracle-checked (registry ``events_window_agg``); streaming runs are
tested with file sources + ``trigger(availableNow=True)`` against the
batch results.

Scale notes: watermarks bound state; ``dropDuplicatesWithinWatermark``
bounds the dedup map; session windows use the native
``session_window`` (state store, not a giant sort).

Every ``foreachBatch`` sink below is started by ``_start``
(availableNow trigger over the caller's checkpoint), and every one that
keeps state shares one exactly-once commit protocol:

- Store writes (``_write_batch_partition``) are stamped with the
  micro-batch id and dynamically overwrite only their own
  ``__batch=<B>`` partition, so a replayed batch replaces its partial
  output instead of appending duplicates. A replay also excludes its
  own partition from every store probe: a doc must not match its own
  half-written state.
- ``_commit`` writes the batch's marker under ``<state>/_commits/``
  LAST, after every store write — one atomic file create, the unit of
  atomicity for multi-store sinks. The marker is ``batch-<B>``, or
  ``batch-<B>-fold`` when the batch folded the whole store into its own
  partition.
- ``_is_committed`` is the replay guard: a redelivered batch whose
  marker exists under either name is skipped. It makes two ``exists``
  probes and never lists ``_commits/``, which grows by one file per
  batch forever.
- The newest ``-fold`` marker is the fold watermark: partitions older
  than it are dead (their contents live inside the fold partition),
  readers skip them and they are deleted after the commit as GC.
  ``_committed_state`` and ``_live_store`` are the only watermark
  readers; readers of sum-merged stores see only committed partitions
  at or above the watermark, so a half-written or superseded partition
  is never double counted. ``_fold_commit`` is the one fold step for
  stores that merge by an aggregate (sum for count-min, trending and
  the sequential monitor; max for HLL): once ``compact_every``
  committed batches are live, the batch merges them into its own
  partition under a ``-fold`` marker.

The checkpoint dir and the state dir are a UNIT: micro-batch ids come
from the checkpoint, and the markers record which of those ids fully
wrote their stores. Pointing a FRESH checkpoint at an existing state
dir restarts ids at 0 and the guard skips them as redeliveries; wipe
(or version) both together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def read_event_stream(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """File-source stream of events rows (schema fixed — streaming scans
    must not infer)."""
    reader = spark.readStream.format(fmt).schema(EVENT_SCHEMA)
    if fmt == "json":
        reader = reader.option("multiLine", "false")
    return reader.load(path)


def enrich_stream(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream–static enrichment: left-join each event against a slowly-
    changing dimension table. Spark plans a stream-static join as a
    per-micro-batch BROADCAST hash join when the static side is small —
    stateless (no watermark, no state store), the standard enrichment
    topology. The dim side is re-resolvable per batch, so an updated
    dimension parquet is picked up without restarting the query.

    Works identically on a batch DataFrame (same plan minus the
    micro-batching) — that twin is the oracle-checked registry query
    ``events_enriched``.
    """
    from pyspark.sql.functions import broadcast

    return stream.join(broadcast(dim), key, "left")


def score_stream(stream: DataFrame, value_col: str = "value") -> DataFrame:
    """Per-event scoring — identical expression logic as batch scorers
    (stateless map; no watermark needed)."""
    from datas_spark.operators.scoring import hash_unit_interval

    return stream.withColumn(
        "score", F.round(hash_unit_interval(F.col("event_id").cast("string")), 6)
    ).withColumn("value_bucket", F.floor(F.col(value_col) / 100.0).cast("long"))


def windowed_event_agg(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) window × event_type counts +
    sums with late-data watermark. Same plan as the oracle-checked
    batch query ``events_window_agg``."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    stream: DataFrame, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps keys only inside the
    watermark horizon — the streaming twin of ``exact_dedup``."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value sum, emitted on every update (SURVEY
    §2.9 — the reference has nothing stateful; this is the engine's
    template for arbitrary user-defined streaming state).

    State per key is two numbers — bounded regardless of stream length.
    Aggregation logic is order-insensitive (count/sum), so results are
    deterministic under any batch/partition arrival order. The same
    code path handles real state-store checkpointing in continuous
    runs; tests drive it with ``availableNow``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize(
    stream: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user session windows (gap-based) — native ``session_window``
    state store; emits one row per closed session."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def _read_store(spark, path: str) -> DataFrame | None:
    """Read a parquet state store; ``None`` ONLY when the path does not
    exist yet (first batch). Any other failure — corrupted footers,
    permissions — raises: swallowing it would silently treat a broken
    store as empty and admit every duplicate."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def _markers(spark, state_path: str, batch_id: int):
    """(fs, plain marker, fold marker) paths of one batch."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    commits = Path(state_path + "/_commits")
    fs = commits.getFileSystem(spark._jsc.hadoopConfiguration())
    return (
        fs,
        Path(commits, f"batch-{batch_id}"),
        Path(commits, f"batch-{batch_id}-fold"),
    )


def _is_committed(spark, state_path: str, batch_id: int) -> bool:
    """Replay guard: True when the batch committed under either marker
    name."""
    fs, plain, fold = _markers(spark, state_path, batch_id)
    return bool(fs.exists(plain) or fs.exists(fold))


def _commit(spark, state_path: str, batch_id: int, fold: bool) -> None:
    """Write the batch's commit marker — LAST, after every store write."""
    fs, plain, folded = _markers(spark, state_path, batch_id)
    marker = folded if fold else plain
    fs.mkdirs(marker.getParent())
    fs.create(marker, True).close()


def _committed_state(spark, state_path: str) -> tuple[set, int]:
    """(committed batch ids, fold watermark) from the _commits dir.
    Watermark is the newest batch that folded the whole store into its
    own partition; -1 when no fold has happened yet."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(state_path + "/_commits")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    committed: set = set()
    watermark = -1
    if not fs.exists(p):
        return committed, watermark
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not name.startswith("batch-"):
            continue
        body = name[len("batch-"):]
        fold = body.endswith("-fold")
        if fold:
            body = body[: -len("-fold")]
        try:
            bid = int(body)
        except ValueError:
            continue
        committed.add(bid)
        if fold:
            watermark = max(watermark, bid)
    return committed, watermark


def _live_store(spark, path: str, state_path: str, exclude_batch: int):
    """Committed, non-superseded partitions — the only rows a reader of
    a sum-merged store may aggregate. ``exclude_batch`` drops the
    (possibly half-written) partition of a replaying batch."""
    committed, watermark = _committed_state(spark, state_path)
    store = _read_store(spark, path)
    if store is None or not committed:
        return None
    live = sorted(b for b in committed if b >= watermark and b != exclude_batch)
    if not live:
        return None
    return store.where(F.col("__batch").isin(live))


def _write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent per-batch store write: stamp rows with ``__batch`` and
    dynamically overwrite ONLY that partition."""
    (
        df.withColumn("__batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(path)
    )


def _compact_batch_partitions(spark, path: str, keep_from: int) -> None:
    """Drop ``__batch=k`` partition dirs with k < keep_from — the TTL
    compaction for batch-stamped state stores. Driver-side metadata
    operation: |expired batches| directory deletes, never a data scan."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("__batch="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid < keep_from:
                fs.delete(st.getPath(), True)


def _fold_commit(
    spark,
    state_path: str,
    store_path: str,
    batch_id: int,
    part: DataFrame,
    keys: list[str],
    merge,
    compact_every: int,
) -> None:
    """Write and commit one batch of an aggregate-merged store. Once
    ``compact_every`` committed batches are live, ``part`` first merges
    them per ``keys`` with the aggregate ``merge`` (``F.sum`` /
    ``F.max``, each column kept at its own type), and the batch commits
    under a ``-fold`` marker that supersedes the older partitions."""
    committed, watermark = _committed_state(spark, state_path)
    fold = sum(1 for b in committed if b >= watermark) >= compact_every
    if fold:
        prior = _live_store(spark, store_path, state_path, exclude_batch=batch_id)
        if prior is not None:
            part = (
                part.unionByName(prior.select(*part.columns))
                .groupBy(*keys)
                .agg(
                    *[
                        merge(f.name).cast(f.dataType).alias(f.name)
                        for f in part.schema.fields
                        if f.name not in keys
                    ]
                )
            )
    _write_batch_partition(part, batch_id, store_path)
    _commit(spark, state_path, batch_id, fold)
    if fold:
        _compact_batch_partitions(spark, store_path, keep_from=batch_id)


def _start(writer: DataStreamWriter, sink, checkpoint_path: str):
    """Start ``sink`` as the writer's foreachBatch over
    ``checkpoint_path``, draining what is available now."""
    return (
        writer.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def incremental_dedup_sink(
    stream: DataFrame,
    state_path: str,
    text_col: str,
    id_col: str,
    checkpoint_path: str,
):
    """Cross-batch EXACT dedup with durable state: a ``foreachBatch``
    sink that anti-joins each micro-batch's normalized-text fingerprints
    against a persistent parquet fingerprint store, appends only
    first-seen rows, and extends the store — the incremental-ingestion
    pattern for a corpus that arrives over days, where
    ``dropDuplicatesWithinWatermark`` can't help because duplicates are
    NOT time-bounded.

    State is (fingerprint, id) parquet: 16 bytes/doc, partition-prunable
    and shared with batch jobs. Within a batch, the first row in
    ``id_col`` order survives (same contract as ``exact_dedup``); across
    batches, earlier batches win. The anti-join broadcasts or shuffles
    per AQE's view of the store size.

    Exactly-once across crashes by the shared commit protocol (module
    docstring).

    Returns the started StreamingQuery (writes survivors to
    ``state_path + '/rows'``, fingerprints to ``state_path + '/seen'``).
    """
    from datas_spark.functions.text import normalized_text
    from datas_spark.operators.dedup import exact_dedup

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        firsts = exact_dedup(batch_df, text_col, id_col).withColumn(
            "__fp", F.xxhash64(normalized_text(text_col))
        )
        seen_path = state_path + "/seen"
        rows_path = state_path + "/rows"
        seen = _read_store(spark, seen_path)
        if seen is not None:
            seen = seen.where(F.col("__batch") != batch_id).select("__fp")
        fresh = firsts if seen is None else firsts.join(seen, "__fp", "left_anti")
        # one deterministic materialization per batch: both writes must
        # see the same survivor set
        fresh = fresh.localCheckpoint(eager=True)
        _write_batch_partition(fresh.drop("__fp"), batch_id, rows_path)
        _write_batch_partition(
            fresh.select("__fp", F.col(id_col).alias("first_id")),
            batch_id,
            seen_path,
        )
        _commit(spark, state_path, batch_id, fold=False)

    return _start(stream.writeStream, _sink, checkpoint_path)


def join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–stream inner join: pair every purchase with each click by
    the same user that happened at-or-before it within ``max_gap`` —
    the attribution join (which click led to this purchase).

    Both sides are watermarked and the join predicate carries an
    EXPLICIT time bound; that bound is what lets Spark evict state:
    buffered click rows older than (watermark + gap) can never match a
    future purchase and are dropped from the state store. Without the
    time-range predicate a stream-stream join must buffer both sides
    forever — the classic unbounded-state bug this operator exists to
    avoid.

    Works identically on batch frames (the range predicate becomes a
    plain interval join condition) — that twin is the oracle-checked
    registry query ``events_attribution``.
    """
    c = clicks.select(
        F.col(key).alias("__k"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    p = purchases.select(
        F.col(key).alias("__k"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (c["__k"] == p["__k"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {max_gap}"))
    )
    return c.join(p, cond).select(
        p["purchase_id"],
        p["__k"].alias(key),
        p["purchase_ts"],
        p["purchase_value"],
        c["click_ts"],
        c["click_value"],
    )


def incremental_near_dedup_sink(
    stream: DataFrame,
    state_path: str,
    text_col: str,
    id_col: str,
    checkpoint_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    retain_batches: int | None = None,
):
    """Cross-batch NEAR-dup with durable state — what an incremental
    corpus ingest actually needs: a slightly-edited repost of last
    week's document must be dropped even though its exact fingerprint
    differs and no watermark bounds the gap.

    Per micro-batch:
    1. in-batch near-dedup (banded MinHash LSH pairs → keep-first);
    2. probe the persistent LSH band store — a new doc sharing ANY band
       bucket with a stored survivor is a candidate, verified by
       estimated Jaccard (fraction of equal minhash components) against
       the stored signature; verified near-dups are dropped;
    3. append survivors' rows, signatures, and band buckets to the
       store.

    State layout (parquet, shared with batch jobs): ``rows/`` the
    surviving documents; ``sigs/`` (id, minhash) for verification;
    ``bands/`` (band, bucket, id) for probing. Per-doc state is
    ``num_hashes``·8 bytes + ``bands`` bucket keys — bounded and
    partition-prunable; the probe is an equi-join on (band, bucket),
    never a scan of stored text. Docs with an empty shingle set
    (shorter than ``shingle_n`` words) can't be banded — MinHash says
    nothing about empty sets — and pass through as always-fresh; run
    ``incremental_dedup_sink`` alongside for exact short-doc dedup.

    Exactly-once across crashes by the shared commit protocol (module
    docstring).

    ``retain_batches=N`` bounds the probe state: after each commit,
    band/signature partitions older than the last N batches are
    deleted (a driver-side directory drop — the stores are partitioned
    by ``__batch``). The dedup horizon becomes N batches: a near-dup
    of a doc first seen earlier than that is admitted, the same
    rolling-window contract as ``stream_dedup``'s watermark. ``rows/``
    (the surviving corpus, the sink's OUTPUT) is never compacted.
    Default ``None`` keeps state forever.

    Returns the started StreamingQuery.
    """
    from datas_spark.operators.dedup import (
        MINHASH_P,
        minhash_lsh_pairs,
        minhash_signature,
        near_dedup_keep_first,
    )

    rows_per_band = num_hashes // bands

    def _bands_of(sigd: DataFrame) -> DataFrame:
        # same (band, md5-of-slice) bucket construction as
        # minhash_lsh_pairs; empty-shingle docs (all-sentinel signature)
        # are excluded from banding
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("minhash")[b * rows_per_band + j]
                                for j in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
        return (
            sigd.select(
                F.col(id_col),
                "minhash",
                F.explode_outer(
                    F.when(F.col("minhash")[0] < MINHASH_P, band_structs)
                ).alias("bb"),
            )
            .where(F.col("bb").isNotNull())
            .select(id_col, "minhash", "bb.band", "bb.bucket")
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        # 1. in-batch near-dedup: keep the smallest id per component
        pairs = minhash_lsh_pairs(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n,
            min_est_jaccard=min_est_jaccard,
        )
        resolved = near_dedup_keep_first(batch_df, id_col, pairs)
        kept = resolved.where(F.col(id_col) == F.col("component")).drop("component")
        sigs = minhash_signature(kept, text_col, num_hashes, shingle_n)
        banded = _bands_of(sigs)
        # 2. probe the persistent store (excluding this batch's own
        # partition — present only when replaying a crashed batch)
        bands_path = state_path + "/bands"
        sigs_path = state_path + "/sigs"
        rows_path = state_path + "/rows"
        store_bands = _read_store(spark, bands_path)
        store_sigs = _read_store(spark, sigs_path)
        if store_bands is not None:
            store_bands = store_bands.where(F.col("__batch") != batch_id).select(
                "band", "bucket", F.col(id_col).alias("__old_id")
            )
            store_sigs = store_sigs.where(F.col("__batch") != batch_id).select(
                F.col(id_col).alias("__old_id"), F.col("minhash").alias("__old_mh")
            )
        if store_bands is not None:
            cand = (
                banded.join(store_bands, ["band", "bucket"])
                .select(id_col, "minhash", "__old_id")
                .dropDuplicates([id_col, "__old_id"])
                .join(store_sigs, "__old_id")
            )
            est = F.size(
                F.filter(
                    F.zip_with("minhash", "__old_mh", lambda a, b: a == b),
                    lambda x: x,
                )
            ) / F.lit(num_hashes)
            dup_ids = cand.where(est >= min_est_jaccard).select(id_col).distinct()
            fresh_sigs = sigs.join(dup_ids, id_col, "left_anti")
        else:
            fresh_sigs = sigs
        # one deterministic materialization per batch: all three writes
        # must see the same survivor set
        fresh_sigs = fresh_sigs.localCheckpoint(eager=True)
        _write_batch_partition(fresh_sigs.drop("minhash"), batch_id, rows_path)
        _write_batch_partition(
            fresh_sigs.select(id_col, "minhash"), batch_id, sigs_path
        )
        _write_batch_partition(
            _bands_of(fresh_sigs.select(id_col, "minhash")).select(
                "band", "bucket", id_col
            ),
            batch_id,
            bands_path,
        )
        _commit(spark, state_path, batch_id, fold=False)
        if retain_batches is not None:
            keep_from = batch_id - int(retain_batches) + 1
            _compact_batch_partitions(spark, bands_path, keep_from)
            _compact_batch_partitions(spark, sigs_path, keep_from)

    return _start(stream.writeStream, _sink, checkpoint_path)


def join_streams_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream attribution: every purchase emits —
    paired with each qualifying click, or once with NULL click columns
    if none arrived. The outer semantics are what funnel metrics need
    (conversion WITHOUT attribution is still a conversion).

    The mechanics Spark imposes: an outer result for an unmatched
    purchase can only emit once the watermark has passed the point
    where a matching click could still arrive (purchase_ts is final
    only then) — so unmatched rows surface with watermark-delay
    latency, and a query that never advances its watermark never emits
    them. Same state-eviction bound as the inner join.
    """
    c = clicks.select(
        F.col(key).alias("__ck"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    p = purchases.select(
        F.col(key).alias("__pk"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (c["__ck"] == p["__pk"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {max_gap}"))
    )
    return c.join(p, cond, "right_outer").select(
        p["purchase_id"],
        p["__pk"].alias(key),
        p["purchase_ts"],
        p["purchase_value"],
        c["click_ts"],
        c["click_value"],
    )


def materialize_window_counts(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
):
    """Incremental materialized view: keep a parquet table of windowed
    per-type aggregates continuously up to date — the streaming twin of
    re-running ``events_window_agg`` from scratch, at per-batch cost.

    Mechanics: the windowed aggregation runs in UPDATE mode, so each
    micro-batch delivers only the (window, event_type) rows whose
    totals CHANGED (late data within the watermark updates its window);
    ``foreachBatch`` writes them with DYNAMIC partition overwrite
    partitioned by (exact window start, event_type) — the partition key
    is exactly the aggregation group key, so an overwrite replaces ONLY
    the groups the batch actually emitted. A coarser key (e.g. the
    window's hour alone) would silently delete the untouched groups
    sharing a partition: UPDATE mode emits changed groups, not whole
    partitions. Second-precision window_date also keeps sub-hour
    windows from sharing a partition. A replayed batch rewrites
    identical partitions with identical totals (idempotent, the
    exactly-once story for file sinks). Readers see a plain partitioned
    parquet table, partition-prunable by window and type.
    """
    agg = windowed_event_agg(stream, window=window, watermark=watermark)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "window_date", F.date_format("window_start", "yyyyMMddHHmmss")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_date", "event_type")
            .parquet(out_path)
        )

    return _start(agg.writeStream.outputMode("update"), _sink, checkpoint_path)


# ---------------------------------------------------------------------------
# streaming HyperLogLog: incremental distinct count with durable registers
# ---------------------------------------------------------------------------

def incremental_hll_sink(
    stream: DataFrame,
    state_path: str,
    value_col: str,
    checkpoint_path: str,
    p: int = 12,
    compact_every: int = 8,
):
    """Streaming approximate COUNT DISTINCT with durable state: each
    micro-batch's HLL register table (<= 2^p rows) lands in its own
    ``__batch`` partition under ``state_path + '/regs'``; the running
    estimate at any time is `hll_state_estimate` over the store.

    HLL merge is ``max`` per bucket — idempotent AND commutative — so a
    replayed or half-written batch can never corrupt the estimate, and
    `hll_state_estimate` may merge every partition it finds. The commit
    protocol (module docstring) only keeps the STORE tidy: every
    ``compact_every`` committed batches the store folds (max-merge, a
    <= 2^p-row merge) into the current batch's partition, so it holds
    about ``compact_every * 2^p`` rows regardless of stream lifetime.
    """
    from datas_spark.operators.sketches import hll_registers

    regs_path = state_path + "/regs"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        regs = hll_registers(batch_df, value_col, p)
        _fold_commit(
            spark, state_path, regs_path, batch_id, regs, ["bucket"], F.max,
            compact_every,
        )

    return _start(stream.writeStream, _sink, checkpoint_path)


def hll_state_estimate(spark, state_path: str, p: int = 12) -> DataFrame:
    """Current distinct-count estimate from a `incremental_hll_sink`
    store: merge all batch partitions (max per bucket) and evaluate the
    estimator. Returns the usual ``(estimate, buckets_used)`` row;
    estimate 0.0 with 0 buckets when no state exists yet."""
    from datas_spark.operators.sketches import hll_estimate_from_registers

    store = _read_store(spark, state_path + "/regs")
    if store is None:
        return spark.createDataFrame(
            [(0.0, 0)], "estimate: double, buckets_used: long"
        )
    merged = store.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    return hll_estimate_from_registers(merged, p)


# ---------------------------------------------------------------------------
# streaming count-min: incremental frequency sketch with durable state
# ---------------------------------------------------------------------------


def incremental_cms_sink(
    stream: DataFrame,
    state_path: str,
    value_col: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 1024,
    compact_every: int = 8,
):
    """Streaming frequency sketch: each micro-batch's count-min
    register table lands in its own committed ``__batch`` partition;
    `cms_state_estimates` sums the live partitions cellwise. Every
    ``compact_every`` batches the whole store folds into the current
    batch's partition, whose `-fold` commit marker atomically
    supersedes the older partitions (module docstring). CMS merges by
    cellwise SUM, so double-reading a partition would DOUBLE COUNT:
    readers see only the committed live partitions. State is bounded by
    ``compact_every * depth * width`` rows; superseded partitions are
    GC'd after commit and harmless if a crash leaves them behind.
    """
    from datas_spark.operators.sketches import cms_registers

    regs_path = state_path + "/regs"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        regs = cms_registers(batch_df, value_col, depth=depth, width=width)
        _fold_commit(
            spark, state_path, regs_path, batch_id, regs, ["row", "pos"], F.sum,
            compact_every,
        )

    return _start(stream.writeStream, _sink, checkpoint_path)


def cms_state_estimates(
    spark,
    state_path: str,
    probes: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` against the live
    streamed sketch (committed partitions at or above the fold
    watermark, summed cellwise)."""
    from datas_spark.operators.sketches import cms_point_estimates

    store = _live_store(spark, state_path + "/regs", state_path, exclude_batch=-2)
    if store is None:
        return probes.select(
            F.col(value_col), F.lit(0).cast("long").alias("est_count")
        ).where(F.col(value_col).isNotNull())
    merged = store.groupBy("row", "pos").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return cms_point_estimates(merged, probes, value_col, depth=depth, width=width)


def quarantine_sink(
    stream: DataFrame,
    rules: dict,
    good_path: str,
    bad_path: str,
    checkpoint_path: str,
):
    """Streaming quality gate: route each micro-batch through
    `validate.quarantine` — clean rows append to ``good_path``, rows
    violating any rule land in ``bad_path`` with their
    ``failed_rules`` attached. The streaming twin of the batch
    ingestion gate, exactly-once by the shared commit protocol (module
    docstring).

    ``rules`` maps rule name -> Column predicate (NULL = violation),
    identical to the batch API — one set of rule semantics, two
    execution modes.
    """
    from datas_spark.operators.validate import quarantine

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, good_path, batch_id):
            return
        good, bad = quarantine(batch_df, rules)
        _write_batch_partition(good, batch_id, good_path + "/rows")
        _write_batch_partition(
            bad.withColumn("failed_rules", F.to_json("failed_rules")),
            batch_id,
            bad_path,
        )
        _commit(spark, good_path, batch_id, fold=False)

    return _start(stream.writeStream, _sink, checkpoint_path)


def drift_monitor_sink(
    stream: DataFrame,
    reference: DataFrame,
    text_col: str,
    metrics_path: str,
    checkpoint_path: str,
    smoothing: float = 0.5,
):
    """Streaming data-drift monitor: per micro-batch, the total
    Jensen-Shannon divergence between the batch's unigram distribution
    and a FIXED reference corpus, appended as one metrics row
    ``(batch_id, n_docs, n_terms, js_total)`` under ``metrics_path``.
    The alarm wire for an ingest pipeline — a feed that switches
    language, template, or domain spikes ``js_total`` in the batch it
    happens, long before any downstream quality score moves.

    The reference side's term counts are computed ONCE (cached via
    ``localCheckpoint`` at sink construction — the reference is fixed
    by contract); each batch joins its own counts against that frame
    with the same smoothed-JS expressions as the batch operator
    `drift.term_drift`, reduced to one total. The metrics table is
    partition-per-batch under the shared commit protocol (module
    docstring).
    """
    from datas_spark.operators.drift import term_counts

    ref_counts = term_counts(reference, text_col).withColumnRenamed(
        "cnt", "cb"
    ).localCheckpoint(eager=True)
    s = float(smoothing)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, metrics_path, batch_id):
            return
        ca = term_counts(batch_df, text_col).withColumnRenamed("cnt", "ca")
        joined = ca.join(ref_counts, "term", "full_outer")
        consts = joined.agg(
            F.sum(F.coalesce("ca", F.lit(0))).cast("long").alias("ta"),
            F.sum(F.coalesce("cb", F.lit(0))).cast("long").alias("tb"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        pa = (F.coalesce("ca", F.lit(0)).cast("double") + F.lit(s)) / (
            F.col("ta").cast("double") + F.lit(s) * F.col("v").cast("double")
        )
        pb = (F.coalesce("cb", F.lit(0)).cast("double") + F.lit(s)) / (
            F.col("tb").cast("double") + F.lit(s) * F.col("v").cast("double")
        )
        m = (pa + pb) / F.lit(2.0)
        js = (pa * F.log(pa / m) + pb * F.log(pb / m)) / F.lit(2.0)
        from pyspark.sql.functions import broadcast

        row = (
            joined.crossJoin(broadcast(consts))
            .agg(
                F.round(F.sum(js), 8).alias("js_total"),
                F.count(F.lit(1)).cast("long").alias("n_terms"),
            )
            .crossJoin(
                broadcast(batch_df.agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
            )
            .select("n_docs", "n_terms", "js_total")
        )
        _write_batch_partition(row, batch_id, metrics_path + "/rows")
        _commit(spark, metrics_path, batch_id, fold=False)

    return _start(stream.writeStream, _sink, checkpoint_path)


def trending_topk_sink(
    stream: DataFrame,
    state_path: str,
    item_col: str,
    checkpoint_path: str,
    compact_every: int = 8,
):
    """Streaming trending counter: each micro-batch's exact per-item
    counts land in their own committed ``__batch`` partition;
    `trending_state_topk` sums the live partitions and ranks. Every
    ``compact_every`` batches the store folds into the current batch's
    partition under the atomic `-fold` watermark marker (module
    docstring; sum-merged like the CMS sink).

    State is O(|distinct items|) rows after every fold — the EXACT
    counter for catalog-sized item spaces; for unbounded key domains
    use `incremental_cms_sink` (fixed-width sketch) and accept
    estimates.
    """
    counts_path = state_path + "/counts"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        counts = (
            batch_df.where(F.col(item_col).isNotNull())
            .groupBy(F.col(item_col).alias("item"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        _fold_commit(
            spark, state_path, counts_path, batch_id, counts, ["item"], F.sum,
            compact_every,
        )

    return _start(stream.writeStream, _sink, checkpoint_path)


def trending_state_topk(spark, state_path: str, k: int = 10) -> DataFrame:
    """Top-``k`` items by total count from the live streamed counter
    (committed partitions at or above the fold watermark, summed;
    count desc, item asc tie-break — a TakeOrdered, never a full
    sort)."""
    store = _live_store(spark, state_path + "/counts", state_path, exclude_batch=-2)
    if store is None:
        schema = "item string, cnt long"
        return spark.createDataFrame([], schema)
    merged = store.groupBy("item").agg(F.sum("cnt").cast("long").alias("cnt"))
    return merged.orderBy(F.desc("cnt"), F.asc("item")).limit(k)


def ewma_anomaly_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.2,
    threshold_sigmas: float = 3.0,
    min_baseline: int = 5,
) -> DataFrame:
    """Stateful streaming anomaly detector: per key, an exponentially
    weighted moving average and variance of ``value_col`` persist in
    the state store; a row whose deviation exceeds
    ``threshold_sigmas·√ewm_var`` (after ``min_baseline`` warm-up
    observations) is emitted as an anomaly with its z-score. The
    classic online monitor — O(3 numbers) state per key, no window
    re-aggregation, arbitrarily long streams.

    Within a micro-batch the updates fold in (ts, value) order so a
    replayed batch reproduces the same state; cross-batch order is the
    stream's own arrival order (the EWMA definition is sequential —
    that IS the semantics, not a race).

    The output schema derives the key/ts column types from the input
    stream's schema (a string-keyed or date-stamped stream works
    as-is); ``value_col`` is cast to double — the EWMA math is float by
    definition.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    in_schema = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    out_schema = (
        f"{key_col} {in_schema[key_col]}, {ts_col} {in_schema[ts_col]}, "
        f"{value_col} double, ewma double, zscore double"
    )
    state_schema = "n bigint, mean double, var double"

    def update(key, pdfs, state: GroupState):
        n, mean, var = state.get if state.exists else (0, 0.0, 0.0)
        rows = {key_col: [], ts_col: [], value_col: [], "ewma": [], "zscore": []}
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, value_col])
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    continue
                v = float(v)
                if n >= min_baseline:
                    sd = math.sqrt(var)
                    if sd == 0.0:
                        # a constant baseline makes ANY deviation an
                        # anomaly (infinite z) — do not mute it
                        z = math.inf if v != mean else 0.0
                    else:
                        z = (v - mean) / sd
                    if abs(z) >= threshold_sigmas:
                        rows[key_col].append(key[0])
                        rows[ts_col].append(ts)
                        rows[value_col].append(v)
                        rows["ewma"].append(mean)
                        rows["zscore"].append(z)
                # standard EWMA/EWMVar recurrences (West 1979)
                if n == 0:
                    mean, var = v, 0.0
                else:
                    delta = v - mean
                    incr = alpha * delta
                    mean = mean + incr
                    var = (1 - alpha) * (var + delta * incr)
                n += 1
        state.update((n, mean, var))
        yield pd.DataFrame(rows)

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def decontamination_sink(
    stream: DataFrame,
    bench_docs: DataFrame,
    clean_path: str,
    flagged_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    m_bits: int = 1 << 16,
    k: int = 3,
    max_hits: int = 0,
    backend: str = "auto",
):
    """Streaming benchmark decontamination: every arriving document's
    word ``shingle_n``-gram shingles are probed against a Bloom bitset
    built ONCE (at sink construction) over the FIXED benchmark corpus.
    Docs with more than ``max_hits`` (possibly-)overlapping shingles
    route to ``flagged_path`` with their ``n_shingles`` / ``n_hits``
    counts attached; the rest append to ``clean_path``. The streaming
    twin of the batch `bloom_decontaminate` probe — the ingest-time
    gate that keeps eval overlap out of a training feed before it ever
    lands.

    Scale shape, per backend (`sketches.bloom_contains` semantics):

    - ``'literal'`` — the benchmark compiles into one dense literal
      (`sketches.bloom_membership_expr`), so the per-batch work is a
      full-speed scan: shingle array + a per-shingle ``filter``
      lambda, ZERO joins, zero stream state.
    - ``'join'`` — past the literal ceiling
      (`sketches.BLOOM_LITERAL_MAX_BITS`), shingles explode inside the
      batch and probe the persisted sparse ``(word, bits)`` table via
      map-side broadcast joins (`sketches.bloom_hit_join`), then
      regroup per ``id_col`` (which must be row-unique). The bitset is
      built once and `persist()`-ed across batches.
    - ``'auto'`` — join above the literal ceiling, literal below.

    Bloom false positives can over-flag at the configured rate; never
    under-flag (no false negatives — the safe direction for
    decontamination). Exactly-once by the shared commit protocol
    (module docstring).
    """
    from datas_spark.functions.text import shingles_of_tokens, word_tokens
    from datas_spark.operators.sketches import (
        BLOOM_LITERAL_MAX_BITS,
        bloom_bitset,
        bloom_hit_join,
        bloom_membership_expr,
    )

    if backend not in ("auto", "literal", "join"):
        raise ValueError(f"backend must be auto|literal|join, got {backend!r}")
    if backend == "auto":
        backend = "join" if m_bits > BLOOM_LITERAL_MAX_BITS else "literal"

    bench_sh = (
        bench_docs.select(word_tokens(text_col).alias("__w"))
        .select(F.explode_outer(shingles_of_tokens(F.col("__w"), shingle_n)).alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )
    bitset = bloom_bitset(bench_sh, "g", m_bits=m_bits, k=k)

    if backend == "literal":
        hit_of = bloom_membership_expr(bitset, m_bits=m_bits, k=k)

        def _probe(df: DataFrame) -> DataFrame:
            toks = df.withColumn("__w", word_tokens(text_col))
            sh = toks.withColumn("__sh", shingles_of_tokens(F.col("__w"), shingle_n))
            return (
                sh.withColumn("n_shingles", F.size("__sh").cast("long"))
                .withColumn(
                    "n_hits",
                    F.size(F.filter(F.col("__sh"), hit_of)).cast("long"),
                )
                .drop("__w", "__sh")
            )
    else:
        bitset = bitset.persist()  # built once, probed by every micro-batch

        def _probe(df: DataFrame) -> DataFrame:
            sh = df.withColumn("__w", word_tokens(text_col)).withColumn(
                "__sh", shingles_of_tokens(F.col("__w"), shingle_n)
            )
            ex = sh.select(id_col, F.explode("__sh").alias("g"))
            hits = (
                bloom_hit_join(ex, "g", bitset, m_bits=m_bits, k=k, hit_col="__hit")
                .groupBy(id_col)
                .agg(F.sum(F.col("__hit").cast("long")).alias("__nh"))
            )
            return (
                sh.withColumn("n_shingles", F.size("__sh").cast("long"))
                .join(hits, id_col, "left")
                .withColumn("n_hits", F.coalesce(F.col("__nh"), F.lit(0)).cast("long"))
                .drop("__w", "__sh", "__nh")
            )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, clean_path, batch_id):
            return
        probed = _probe(batch_df)
        _write_batch_partition(
            probed.where(F.col("n_hits") <= max_hits).drop("n_shingles", "n_hits"),
            batch_id,
            clean_path + "/rows",
        )
        _write_batch_partition(
            probed.where(F.col("n_hits") > max_hits), batch_id, flagged_path
        )
        _commit(spark, clean_path, batch_id, fold=False)

    return _start(stream.writeStream, _sink, checkpoint_path)


def semantic_decontamination_sink(
    stream: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    flagged_path: str,
    clean_path: str,
    checkpoint_path: str,
    threshold: float = 0.9,
    n_planes: int = 4,
    seed: int = 42,
):
    """Streaming EMBEDDING-space decontamination — the semantic twin of
    the n-gram ``decontamination_sink``: arriving vectors whose cosine
    to ANY benchmark vector reaches ``threshold`` are quarantined with
    (n_matches, max_cos) attached; everything else appends to the clean
    store. Together the two sinks close the ingestion gate on both
    surface-form AND paraphrase contamination.

    The benchmark side is fixed by contract: its hyperplane sign
    signature is computed ONCE at sink construction (localCheckpoint —
    the `drift_monitor_sink` pattern); each micro-batch signs its own
    vectors map-side with the SAME seed-pinned planes and meets the
    benchmark in a bucket equi-join (never a cross join), exact JVM
    cosine inside buckets only — the proven `cross_contamination`
    shape, per batch. Exactly-once by the shared commit protocol
    (module docstring).
    """
    from datas_spark.functions.arrays import cosine_similarity
    from datas_spark.operators.similarity import (
        hyperplane_signature,
        random_hyperplanes,
    )

    dim = len(benchmark.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    bb = hyperplane_signature(
        benchmark.select(
            F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bvec")
        ),
        "__bvec",
        planes,
    ).localCheckpoint(eager=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, flagged_path, batch_id):
            return
        tb = hyperplane_signature(batch_df, vec_col, planes)
        cos = cosine_similarity(F.col(vec_col), F.col("__bvec"))
        matches = (
            tb.join(bb, "bucket")
            .select(F.col(id_col), cos.alias("__cos"))
            .where(F.col("__cos") >= threshold)
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_matches"),
                F.round(F.max("__cos"), 6).alias("max_cos"),
            )
        )
        flagged = batch_df.join(matches, id_col).drop(vec_col)
        clean = batch_df.join(matches.select(id_col), id_col, "left_anti").drop(
            vec_col
        )
        _write_batch_partition(flagged, batch_id, flagged_path + "/rows")
        _write_batch_partition(clean, batch_id, clean_path)
        _commit(spark, flagged_path, batch_id, fold=False)

    return _start(stream.writeStream, _sink, checkpoint_path)


# ---------------------------------------------------------------------------
# streaming SCD Type-2: dimension history maintained per micro-batch
# ---------------------------------------------------------------------------

def scd2_sink(
    stream: DataFrame,
    state_path: str,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    seq_col: str,
    checkpoint_path: str,
):
    """Streaming SCD Type-2 dimension maintenance: every micro-batch of
    change events is MERGEd into the durable history with
    `cdc.merge_scd2` (touched keys replayed, untouched pass through),
    and the FULL post-merge table lands in the batch's own ``__batch``
    partition — a fold-every-batch versioned store: the shared commit
    protocol (module docstring) in its degenerate case "every batch
    folds". Dimensions are small relative to facts, so
    rewriting the table per batch is the honest cost of a table whose
    rows MUTATE (intervals close); the append-only partition tricks of
    the dedup sinks don't apply.

    Crash safety: the fold marker (`batch-<B>-fold`) is written only
    after the batch's full-state partition is complete, and readers
    (`scd2_state`) resolve ONLY the newest fold partition — a replayed
    batch re-merges against the previous fold (its own half-written
    partition is never the watermark) and overwrites its partition
    idempotently. MERGE itself is idempotent by algebra: re-merging
    already-applied changes collapses them as repeat observations.

    In-order contract per key (batch N's changes >= the key's last run
    start) gives bit-identity with a batch rebuild over the full log;
    late changes degrade gracefully to merge_scd2's documented run-view
    semantics.
    """
    from datas_spark.operators.cdc import merge_scd2, scd2_from_changelog

    store_path = state_path + "/scd2"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        changes = batch_df.select(*key_cols, *attr_cols, ts_col, seq_col)
        prior = scd2_state(spark, state_path)
        if prior is None:
            merged = scd2_from_changelog(changes, key_cols, attr_cols, ts_col, seq_col)
        else:
            merged = merge_scd2(prior, changes, key_cols, attr_cols, ts_col, seq_col)
        # pin ONE materialization: the write below must not re-read the
        # store partition it is about to supersede through live lineage
        merged = merged.localCheckpoint(eager=True)
        _write_batch_partition(merged, batch_id, store_path)
        _commit(spark, state_path, batch_id, fold=True)
        _compact_batch_partitions(spark, store_path, keep_from=batch_id)

    return _start(stream.writeStream, _sink, checkpoint_path)


def scd2_state(spark, state_path: str) -> DataFrame | None:
    """Current SCD2 table from a `scd2_sink` store: the newest
    committed fold partition, or ``None`` before the first commit.
    Compose with `cdc.scd2_as_of` for point-in-time reads."""
    _, watermark = _committed_state(spark, state_path)
    if watermark < 0:
        return None
    store = _read_store(spark, state_path + "/scd2")
    if store is None:
        return None
    return store.where(F.col("__batch") == watermark).drop("__batch")


def enrich_stream_scd2(
    stream: DataFrame,
    scd2_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str] | None = None,
):
    """Stream-static point-in-time enrichment: each event joins the
    SCD2 dimension run covering its EVENT TIME (``valid_from <= ts <
    valid_to``), not the dimension's latest value — the streaming twin
    of the batch `scd2_pit_enrich` query and the operational fix for
    train/serve skew: a replayed event is enriched with the same
    dimension values it would have seen live.

    Plan shape: stream-static equi-join on the dimension key with the
    interval containment as a residual condition; disjoint runs
    guarantee ≤ 1 match per event (left join keeps pre-history events
    with NULL attributes). Feed ``scd2_df`` from `scd2_state` (the
    sink's newest fold) or any SCD2 parquet; Spark re-reads static
    sides per micro-batch, so a freshly-folded dimension is picked up
    on the next trigger.
    """
    dim_cols = attr_cols or [
        c
        for c in scd2_df.columns
        if c not in set(key_cols) | {"valid_from", "valid_to", "change_seq", "is_current"}
    ]
    dim = scd2_df.select(
        *[F.col(k).alias(f"__dim_{k}") for k in key_cols],
        *dim_cols,
        "valid_from",
        "valid_to",
    )
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & (stream[k] == F.col(f"__dim_{k}"))
    cond = (
        cond
        & (F.col("valid_from") <= stream[ts_col])
        & (F.col("valid_to").isNull() | (F.col("valid_to") > stream[ts_col]))
    )
    return stream.join(dim, cond, "left").drop(
        *[f"__dim_{k}" for k in key_cols], "valid_from", "valid_to"
    )


def ivm_join_view_sink(
    stream: DataFrame,
    state_path: str,
    side_col: str,
    keys: list[str],
    a_cols: list[str],
    b_cols: list[str],
    checkpoint_path: str,
):
    """Streaming incremental view maintenance for an inner equi-join:
    the stream carries BOTH relations' inserts tagged by ``side_col``
    ('a' / 'b' — the shape a CDC feed delivers), and every micro-batch
    appends exactly the join rows it adds — ``ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB``
    (`incremental.ivm_join_delta`) — to the stored view, never
    recomputing history against history.

    Contrast with Spark's native stream-stream join: that needs
    watermarks to BOUND state and drops matches beyond them; this sink
    keeps the full relations as append-only parquet (the lakehouse
    already stores them) and so maintains the UNBOUNDED join exactly,
    at the cost of one store-side scan per batch — the right trade for
    a slowly-growing dimension-ish relation joined against a fact feed.

    Layout under ``state_path``: ``a/`` and ``b/`` accumulate the
    relations, ``view/`` accumulates join rows; all three are
    batch-partitioned under the shared commit protocol (module
    docstring), so the view is exactly-once.

    Column contract: besides ``side_col`` and ``keys``, 'a' rows carry
    ``a_cols`` (NULL on 'b' rows) and 'b' rows carry ``b_cols``; the
    view gets ``keys + a_cols + b_cols``.
    """
    from datas_spark.operators.incremental import ivm_join_delta

    a_path, b_path, view_path = (
        state_path + "/a",
        state_path + "/b",
        state_path + "/view",
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        da = batch_df.where(F.col(side_col) == "a").select(*keys, *a_cols)
        db = batch_df.where(F.col(side_col) == "b").select(*keys, *b_cols)
        # one deterministic materialization per batch: the delta join
        # and the two store appends must see the same rows
        da = da.localCheckpoint(eager=True)
        db = db.localCheckpoint(eager=True)

        def _stored(path: str, cols: list[str]) -> DataFrame | None:
            st = _read_store(spark, path)
            if st is None:
                return None
            return st.where(F.col("__batch") != batch_id).select(*keys, *cols)

        a_old = _stored(a_path, a_cols)
        b_old = _stored(b_path, b_cols)
        empty_a = da.limit(0)
        empty_b = db.limit(0)
        delta = ivm_join_delta(
            a_old if a_old is not None else empty_a,
            da,
            b_old if b_old is not None else empty_b,
            db,
            keys,
        )
        _write_batch_partition(delta, batch_id, view_path)
        _write_batch_partition(da, batch_id, a_path)
        _write_batch_partition(db, batch_id, b_path)
        _commit(spark, state_path, batch_id, fold=False)

    return _start(stream.writeStream, _sink, checkpoint_path)


def ivm_view_state(spark, state_path: str) -> DataFrame | None:
    """Current join view from an `ivm_join_view_sink` store: the union
    of committed batch partitions (append-only — no fold needed), or
    ``None`` before the first commit."""
    committed, _ = _committed_state(spark, state_path)
    store = _read_store(spark, state_path + "/view")
    if store is None or not committed:
        return None
    return store.where(F.col("__batch").isin(sorted(committed))).drop("__batch")


def compact_ivm_store(
    spark,
    state_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Offline small-file compaction for an `ivm_join_view_sink` store
    (round-7, VERDICT r6 "Next round" #4): the sink appends one parquet
    partition dir per micro-batch to ``a/``, ``b/`` and ``view/``
    forever — thousands of KB-scale files at production batch counts,
    and every per-batch store scan pays the per-file open cost. This
    folds all COMMITTED batch partitions of each store into the single
    partition ``__batch = max(committed)``, sized near
    ``target_file_bytes`` per file (the same sizing rule as
    ``io.maintenance.compact_parquet``), while preserving the
    commit-marker protocol exactly:

    - every folded batch keeps its ``batch-<id>`` marker, so a
      checkpoint REPLAY of a compacted batch still short-circuits on
      the marker before it ever probes the store;
    - the fold target partition is itself a committed batch id, so
      `ivm_view_state` (which filters ``__batch ∈ committed``) and the
      sink's own store probes (which filter ``__batch != batch_id`` —
      exclude-CURRENT-batch, so a replayed batch never self-joins its
      own partial partition) read the folded rows unchanged;
    - an UNCOMMITTED partial partition (crashed batch) is dropped by
      the committed filter here. That is safe even though the sink
      probe would have read it: the crashed batch has no commit marker,
      so restart REPLAYS it from the source and rewrites its partition
      before any later batch probes the store — the marker scheme's
      normal recovery path, with or without compaction in between.

    Run with the stream STOPPED (offline maintenance, like compacting
    any lake table). The rewrite is crash-recoverable WITHOUT assuming
    atomic directory rename (object-store ``rename`` is copy-then-
    delete, so a swap protocol that trusts rename can be caught with
    two half-copies and no way to tell which is whole): the compacted
    copy is fully written to ``<store>.__compact``, its row count is
    verified against the committed source count, and only then is a
    ``_compact_ok_<rows>`` completion marker created inside it. A copy
    is AUTHORITATIVE iff its marker row count matches its actual
    parquet count — recovery rolls FORWARD to whichever side verifies
    (store first, then the compacted copy) and deletes the rest; a copy
    that fails verification is never trusted and never the only
    surviving replica, because the source store is deleted strictly
    after the compacted copy verifies.

    Returns ``{store: {"folded_batches": n, "n_files": m}}``.
    """
    from pyspark.errors import AnalysisException

    committed, _ = _committed_state(spark, state_path)
    if not committed:
        return {}
    target_batch = max(committed)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    MARK = "_compact_ok_"

    def _marker_rows(fs, p_dir) -> int | None:
        """Row count recorded by the completion marker, or None."""
        for st in fs.listStatus(p_dir):
            name = st.getPath().getName()
            if name.startswith(MARK):
                try:
                    return int(name[len(MARK):])
                except ValueError:
                    return None
        return None

    def _parquet_rows(path: str) -> int | None:
        try:
            return spark.read.parquet(path).count()
        except AnalysisException:
            return None

    def _verified(fs, p_dir, path: str) -> bool:
        """A copy is authoritative iff its marker's recorded count
        matches its actual parquet footer count — a half-copied dir
        (non-atomic rename) fails this even if the tiny marker file
        happened to copy first."""
        want = _marker_rows(fs, p_dir)
        return want is not None and _parquet_rows(path) == want

    def _strip_marker(fs, p_dir) -> None:
        for st in fs.listStatus(p_dir):
            if st.getPath().getName().startswith(MARK):
                fs.delete(st.getPath(), False)

    out: dict = {}
    for sub in ("a", "b", "view"):
        store = state_path + "/" + sub
        p_store = jvm.org.apache.hadoop.fs.Path(store)
        p_tmp = jvm.org.apache.hadoop.fs.Path(store + ".__compact")
        p_bak = jvm.org.apache.hadoop.fs.Path(store + ".__precompact")
        fs = p_store.getFileSystem(conf)
        # --- recovery: roll FORWARD to whichever copy verifies ---
        if fs.exists(p_store) and _verified(fs, p_store, store):
            # swap finished, cleanup died: store is the compacted copy
            if fs.exists(p_tmp):
                fs.delete(p_tmp, True)
            _strip_marker(fs, p_store)
        elif fs.exists(p_tmp) and _verified(fs, p_tmp, store + ".__compact"):
            # compacted copy complete but swap unfinished: finish it
            if fs.exists(p_store):
                fs.delete(p_store, True)
            fs.rename(p_tmp, p_store)
            _strip_marker(fs, p_store)
        elif fs.exists(p_bak):
            # legacy (pre-marker) backup-swap crash: the old protocol
            # only deleted the store after a completed tmp→store rename
            if fs.exists(p_store):
                fs.delete(p_bak, True)
            else:
                fs.rename(p_bak, p_store)
        if fs.exists(p_tmp):
            fs.delete(p_tmp, True)  # unverified compacted copy: discard
        if not fs.exists(p_store):
            continue
        total = int(fs.getContentSummary(p_store).getLength())
        n_files = max(1, -(-total // int(target_file_bytes)))
        try:
            src = spark.read.parquet(store)
        except AnalysisException as e:
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                # partitions exist but hold zero parquet footers (e.g. a
                # view store before the first join row) — nothing to fold
                continue
            raise
        keep = src.where(F.col("__batch").isin(sorted(committed)))
        src_rows = keep.count()
        if src_rows == 0:
            continue
        folded = (
            keep.drop("__batch")
            .repartition(n_files)
            .withColumn("__batch", F.lit(target_batch))
        )
        # full write completes — and VERIFIES — before the store is touched
        folded.write.mode("overwrite").partitionBy("__batch").parquet(
            store + ".__compact"
        )
        tmp_rows = _parquet_rows(store + ".__compact")
        if tmp_rows != src_rows:
            raise IOError(
                f"compacted copy of {store} read back {tmp_rows} rows, "
                f"expected {src_rows}; store left untouched"
            )
        # completion marker LAST: its presence certifies a full copy
        fs.create(
            jvm.org.apache.hadoop.fs.Path(
                store + f".__compact/{MARK}{tmp_rows}"
            ),
            True,
        ).close()
        fs.delete(p_store, True)
        fs.rename(p_tmp, p_store)
        _strip_marker(fs, p_store)
        out[sub] = {"folded_batches": len(committed), "n_files": n_files}
    return out


# ---------------------------------------------------------------------------
# streaming group-sequential experiment monitor: durable per-arm moments
# ---------------------------------------------------------------------------


def sequential_monitor_sink(
    stream: DataFrame,
    state_path: str,
    arm_col: str,
    y_col: str,
    checkpoint_path: str,
    compact_every: int = 8,
):
    """Streaming companion of `events.sequential_looks`: each
    micro-batch folds its units into per-arm EXACT moment partials
    ``(arm, n, sy, syy)`` (y integer-quantized, sums decimal-38) in a
    committed ``__batch`` partition — the experiment accumulates as
    the stream runs, and `sequential_monitor_state` turns the live
    store into the current z / OBF-boundary readout at any moment.

    Moments merge by SUM, so like the CMS sink (and unlike HLL's
    idempotent max) correctness hangs on the commit protocol (module
    docstring); every ``compact_every`` batches the whole store folds
    into one ≤|arms|-row partition.

    The input ``stream`` carries one row per UNIT-EVENT (a unit may
    appear in many batches; moments accumulate per event — monitor
    cumulative per-unit outcomes upstream if unit-level variance is
    wanted, e.g. by feeding a per-batch pre-aggregated CDC feed)."""
    mom_path = state_path + "/moments"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _is_committed(spark, state_path, batch_id):
            return
        y = F.col(y_col).cast("decimal(38,0)")
        mom = batch_df.groupBy(F.col(arm_col).cast("int").alias("arm")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(y).cast("decimal(38,0)").alias("sy"),
            F.sum(y * y).cast("decimal(38,0)").alias("syy"),
        )
        _fold_commit(
            spark, state_path, mom_path, batch_id, mom, ["arm"], F.sum,
            compact_every,
        )

    return _start(stream.writeStream, _sink, checkpoint_path)


def sequential_monitor_state(
    spark,
    state_path: str,
    look: int,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """Current group-sequential readout from a `sequential_monitor_sink`
    store: cumulative per-arm moments → arm difference, Welch SE, z,
    and the O'Brien-Fleming boundary for interim ``look`` (1-based
    into ``boundaries``, default the K=4 OBF table — the caller's
    analysis plan decides which look this read IS; the store just
    accumulates). Returns the `sequential_looks` row shape; NULL
    metrics when a side has < 2 units."""
    from datas_spark.operators.events import _OBF_BOUNDS_K4

    bounds = [float(b) for b in (boundaries or _OBF_BOUNDS_K4)]
    if not 1 <= int(look) <= len(bounds):
        raise ValueError(f"look must be in 1..{len(bounds)}, got {look}")
    empty = (
        "look int, n_treat long, n_control long, diff double, se double, "
        "z double, obf_bound double, crossed int"
    )
    store = _live_store(spark, state_path + "/moments", state_path, exclude_batch=-2)
    if store is None:
        return spark.createDataFrame([], empty)
    mom = store.groupBy("arm").agg(
        F.sum("n").cast("long").alias("__n"),
        F.sum("sy").cast("decimal(38,0)").alias("__sy"),
        F.sum("syy").cast("decimal(38,0)").alias("__syy"),
    )
    one = mom.agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("arm", F.struct("__n", "__sy", "__syy")))
            )
        ).alias("__m")
    )
    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]
    dd = lambda c: c.cast("double")  # noqa: E731
    nT, nC = dd(_arm(1, "__n")), dd(_arm(0, "__n"))
    mT, mC = dd(_arm(1, "__sy")) / nT, dd(_arm(0, "__sy")) / nC
    vT = (dd(_arm(1, "__syy")) - nT * mT * mT) / (nT - F.lit(1.0))
    vC = (dd(_arm(0, "__syy")) - nC * mC * mC) / (nC - F.lit(1.0))
    se = F.sqrt(vT / nT + vC / nC)
    z = F.when(se > 0.0, (mT - mC) / se)
    bound = F.lit(bounds[int(look) - 1])
    return one.select(
        F.lit(int(look)).alias("look"),
        _arm(1, "__n").alias("n_treat"),
        _arm(0, "__n").alias("n_control"),
        F.round(mT - mC, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(z, 4).alias("z"),
        bound.alias("obf_bound"),
        F.when(z.isNotNull(), F.abs(z) > bound).cast("int").alias("crossed"),
    )
