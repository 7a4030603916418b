"""Structured Streaming surface — beyond-reference extension.

The reference exposes **no** streaming operators (SURVEY.md §2.11: the word
"stream" never appears in main.rs; only fully-materialized collect).  This
module is the Spark-native stretch surface (SURVEY.md §7, optional): the
batch operators re-expressed over ``readStream``/``writeStream`` so the same
pipeline runs incrementally.

Design (100 TB / always-on):
- event-time tumbling windows with a watermark bound state size: late rows
  beyond the watermark are dropped deterministically, everything else folds
  into its window's partial aggregate (partial→final, same as batch);
- streaming dedup uses ``dropDuplicatesWithinWatermark`` so the
  seen-key state is GC'd with the watermark instead of growing forever;
- sinks default to append/update modes that emit only finalized windows —
  replayable into the same parquet layout the batch engine reads.

Tests drive these with the file source over the driver's events table and
assert batch parity (the streaming rollup of a finite input must equal the
batch rollup).
"""

from __future__ import annotations

import os as _os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_stream_parquet", "windowed_rollup", "session_rollup",
           "streaming_dedup", "stream_stream_join", "run_stream_to_memory",
           "run_stream_to_parquet", "streaming_view_maintenance",
           "streaming_append_table", "streaming_table_changes",
           "streaming_ann_index_maintenance", "streaming_dedup_ingest",
           "stream_state_partitions", "files_per_trigger"]

# Sizing target for streaming state partitions: one partition per this many
# bytes of source backlog.  Stateful streaming has NO AQE — the shuffle
# partition count captured at query start becomes the state-store partition
# count for the checkpoint's lifetime, and every micro-batch commits every
# state store (a stream-stream join keeps FOUR stores per partition).  A
# count tuned to cluster cores therefore multiplies per-trigger fixed cost
# by partitions x stores x batches even when a trigger carries a few KB.
_STATE_PARTITION_BYTES = 32 * 1024 * 1024


def stream_state_partitions(spark: SparkSession, src_path: str | None = None,
                            *, src_bytes: int | None = None) -> int:
    """Scale-adaptive shuffle/state partition count for a streaming drive.

    Policy: ceil(source bytes / 32 MB), clamped to [1, session
    ``spark.sql.shuffle.partitions``] — a 1 TB backlog on a cluster
    configured with 2000 shuffle partitions uses all 2000; a 2 MB local
    fixture uses 1 instead of paying 32 state-store commits per trigger.
    The cap keeps the cluster setting authoritative; the floor keeps tiny
    drives off the pathological partitions >> rows regime.  For long-running
    production streams whose steady-state per-trigger volume differs from
    the initial backlog, override with ``SPARK_GRAFT_STREAM_PARTITIONS``
    (state partitioning is pinned per checkpoint, so pick for steady state).

    Correctness is partition-count independent by construction: every gate
    output is an aggregate/join whose sums are exact decimals (the repo-wide
    rounded-before-aggregate convention)."""
    override = _os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if override:
        return max(1, int(override))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if src_bytes is None:
        if src_path is None or not _os.path.isdir(src_path):
            # Unknown source size (object-store URI, glob, remote path we
            # cannot stat): the safe default is the session cap, NOT 1 — a
            # 1 TB s3 backlog must never collapse all state onto one
            # partition just because the driver could not walk the path.
            return cap
        src_bytes = 0
        for root, _dirs, files in _os.walk(src_path):
            for f in files:
                try:
                    src_bytes += _os.path.getsize(_os.path.join(root, f))
                except OSError:
                    pass  # file vacuumed mid-walk: size it as absent
    want = -(-int(src_bytes) // _STATE_PARTITION_BYTES)  # ceil div
    return max(1, min(cap, want))


def files_per_trigger(src_path: str,
                      target_bytes: int = _STATE_PARTITION_BYTES) -> int:
    """Volume-based micro-batch sizing for file-source streams: enough
    files per trigger to carry ~``target_bytes`` (32 MB default), so a
    backlog of tiny files consolidates into few triggers while fat files
    stay one per trigger.  Per-trigger fixed cost (state commits, delta
    appends, keyed upserts) is paid per TRIGGER, not per byte — sizing
    triggers by file COUNT multiplies it by however small the producer's
    files happen to be.  Unstatable source (object-store URI) → 1, the
    conservative incremental contract (remote crawl files are normally
    split-sized, not tiny)."""
    try:
        if not _os.path.isdir(src_path):
            return 1
        sizes = []
        for root, _dirs, files in _os.walk(src_path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # commit markers / hidden sidecars
                try:
                    sizes.append(_os.path.getsize(_os.path.join(root, f)))
                except OSError:
                    pass
        if not sizes:
            return 1
        avg = max(1, sum(sizes) // len(sizes))
        return max(1, int(target_bytes // avg))
    except OSError:
        return 1


@contextmanager
def _pinned_shuffle_partitions(spark: SparkSession, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of a streaming
    drive (the value is captured into the query's state metadata at start),
    restoring the session value after.  ``n=None`` is a no-op."""
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _drive(writer, timeout_s: float) -> None:
    """Run a finite ``availableNow`` drive to completion; past
    ``timeout_s`` stop it and raise — a partial sink must never
    masquerade as final."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drive still running after {timeout_s}s — "
            f"stopped; raise timeout_s or shrink the input")


def read_stream_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a parquet directory (schema required — a
    stream cannot infer)."""
    return spark.readStream.schema(schema).parquet(path)


def _ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with local-time semantics); parquet
    written without timezone annotation reads back as TIMESTAMP_NTZ, which
    ``withWatermark`` rejects.  Cast NTZ → TIMESTAMP (session-timezone
    interpretation — the batch rollup reads the same column the same way, so
    parity holds)."""
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window aggregate with watermark — the streaming form of the
    batch ``events_time_rollup`` gate query.  Output: one row per
    (window_start, key) with count/sum/min/max.

    ``slide`` < ``window`` switches to HOPPING windows: each event lands in
    window/slide overlapping windows (state and output scale by the same
    factor — the documented cost of overlap; the watermark still bounds
    total state).

    ``watermark=None`` means the input is ALREADY watermarked by an
    upstream stateful operator (e.g. streaming_dedup → rollup): Spark
    disallows redefining the watermark in one query, so chained stateful
    operators set it exactly once."""
    win = (F.window(F.col(ts_col), window, slide) if slide
           else F.window(F.col(ts_col), window))
    src = _ensure_event_time(events, ts_col)
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return (
        src
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(28,10)")).cast("double").alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(F.col("w.start").alias("window_start"), key_col,
                "n", "sum_value", "min_value", "max_value")
    )


def session_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time session windows (dynamic-gap analogue of the batch
    ``sessionize`` gate): per (key, session) count/sum where a session
    closes after ``gap`` of inactivity.  ``F.session_window`` keeps the
    state store bounded by the watermark — sessions older than it are
    finalized and evicted, so the operator runs forever on an unbounded
    stream.  The same expression works in batch mode, which is what the
    parity test compares against."""
    return (
        _ensure_event_time(events, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                 F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(28,10)")).cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                key_col, "n_events", "sum_value")
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: state is dropped
    as the watermark advances (bounded memory — the only dedup that runs
    forever)."""
    return _ensure_event_time(events, ts_col) \
        .withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(key_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream↔stream interval join (attribution shape): each left event
    pairs with every right event of the same key whose timestamp falls in
    ``[left.ts, left.ts + within]``.

    Both sides carry watermarks and the join condition carries the time
    range, so Spark derives a state-eviction bound for each side — state
    holds only the watermark+within horizon per key, which is what lets the
    join run forever on unbounded streams.  Without them an inner join
    still runs but its state grows without bound, and outer variants are
    rejected outright (no way to finalize a non-match).

    Columns: left keeps its names; right's key/ts are exposed as
    ``r_<key>``/``r_<ts>`` plus any other right columns prefixed ``r_``.
    Works identically on batch DataFrames (no watermark applied) — the
    parity tests exploit that.

    ``how='left_outer'`` emits null-matched left rows, and
    ``how='full_outer'`` null-matched rows on BOTH sides — but ONLY once
    the watermark passes a row's join horizon (Spark cannot finalize a
    non-match earlier; an unmatched row near the stream's end stays in
    state forever on a finite drive).  Finite drives that need the outer
    result must advance the watermark past the last real event — e.g.
    append sentinel rows in a later file and trigger per-file (the
    streaming_join_outer / streaming_join_full_outer gates show the
    recipe; for full outer the sentinels must carry BOTH event types so
    both sides' watermarks advance)."""
    l = _ensure_event_time(left, ts_col)
    r = _ensure_event_time(right, ts_col)
    if l.isStreaming:
        l = l.withWatermark(ts_col, watermark)
    if r.isStreaming:
        r = r.withWatermark(ts_col, watermark)
    r = r.select([F.col(c).alias(f"r_{c}") for c in r.columns])
    cond = (
        (F.col(key_col) == F.col(f"r_{key_col}"))
        & (F.col(f"r_{ts_col}") >= F.col(ts_col))
        & (F.col(f"r_{ts_col}")
           <= F.col(ts_col) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def run_stream_to_memory(stream_df: DataFrame, query_name: str,
                         output_mode: str = "append", timeout_s: int = 120,
                         state_partitions: int | None = None):
    """Drive a finite file-source stream to completion into an in-memory
    sink; returns the result DataFrame (test/verification harness).
    ``state_partitions`` (from :func:`stream_state_partitions`) pins the
    stateful operators' partition count for this drive."""
    spark = stream_df.sparkSession
    with _pinned_shuffle_partitions(spark, state_partitions):
        _drive(stream_df.writeStream.format("memory")
               .queryName(query_name)
               .outputMode(output_mode), timeout_s)
    return stream_df.sparkSession.table(query_name)


def run_stream_to_parquet(stream_df: DataFrame, out_dir: str,
                          checkpoint_dir: str,
                          output_mode: str = "append",
                          timeout_s: int = 120,
                          state_partitions: int | None = None) -> DataFrame:
    """Materialize a stream to a parquet directory via ``foreachBatch`` and
    return the written result read back — the durable-sink path (vs the
    in-memory test sink): finalized windows land in the same parquet layout
    the batch engine reads, restart-safe through the checkpoint location.

    ``foreachBatch`` rather than the built-in parquet sink so non-append
    output modes (update/complete re-emissions) can also be materialized by
    swapping the writer body.  Each batch OVERWRITES its own
    ``batch-<id>`` subdirectory, so a batch replayed after a crash
    (written to the sink, not yet recorded in the checkpoint) lands
    idempotently instead of appending its rows twice — exactly-once
    without a commit log, at the cost of one subdir per batch.

    NOTE for external readers of ``out_dir``: the layout is
    ``out_dir/batch-<id>/*.parquet`` (one subdir per micro-batch), not a
    flat parquet directory — read it with the ``batch-*`` glob this
    function uses.  A drive that produces ZERO batches (empty source)
    returns an empty frame with the stream's schema rather than raising
    from a non-matching glob."""
    import glob as _glob2
    import os as _os2

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            _os2.path.join(out_dir, f"batch-{batch_id}"))

    spark = stream_df.sparkSession
    with _pinned_shuffle_partitions(spark, state_partitions):
        _drive(stream_df.writeStream.foreachBatch(_write)
               .outputMode(output_mode)
               .option("checkpointLocation", checkpoint_dir), timeout_s)
    if not _glob2.glob(_os2.path.join(out_dir, "batch-*")):
        return spark.createDataFrame([], stream_df.schema)
    return spark.read.parquet(_os2.path.join(out_dir, "batch-*"))


def streaming_view_maintenance(
    spark: SparkSession, src_path: str, schema,
    key_cols, value_col: str, work_dir: str,
    max_files_per_trigger: int = 2, timeout_s: int = 180,
) -> DataFrame:
    """Continuously-maintained aggregate VIEW over a stream: every
    micro-batch reduces to mergeable per-key state (``cdc.agg_state`` —
    count/sum/min/max with exact decimal sums) and merges into the
    standing state table (``cdc.merge_agg_state``), which lands as a new
    COMMITTED version per batch through the manifest protocol
    (sources/manifest.py — write data first, atomic O_EXCL commit file
    last), so a concurrent reader of the view root always sees a whole
    micro-batch's state, never a torn or half-written one; swap for
    Delta/Iceberg commits in production.

    This is the streaming half of incremental view maintenance: refresh
    cost per batch is O(|batch| + touched keys), history is NEVER
    rescanned, and because the state is mergeable and the sums are exact
    decimals, the final table is bit-identical to a from-scratch batch
    aggregate REGARDLESS of how the stream was chopped into batches
    (``max_files_per_trigger`` forces several real merge steps on a
    finite drive — the determinism the gate hashes).

    Returns the final state read back from its versioned directory."""
    import os as _os2

    from ..pipeline.cdc import agg_state, merge_agg_state
    from ..sources.manifest import (
        _commit, _read_version, _Written, latest_commit, read_table,
    )

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(src_path))
    view_root = _os2.path.join(work_dir, "view")
    ckpt = _os2.path.join(work_dir, "ckpt")
    txn_app = _os2.path.abspath(ckpt)
    state = {"n_batches": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        def write(info, data_dir):
            part = agg_state(batch_df, list(key_cols), value_col)
            if info is not None:
                part = merge_agg_state(_read_version(spark, info), part,
                                       list(key_cols))
            part.write.mode("overwrite").parquet(data_dir)
            return _Written(part.columns)

        # a replayed batch (crash after commit, before the streaming
        # checkpoint advanced) is already in the view and commits nothing
        _commit(spark, view_root, "streaming_view_maintenance", write,
                keep_versions=2, txn=(txn_app, batch_id))
        state["n_batches"] += 1

    _drive(stream.writeStream.foreachBatch(_apply)
           .option("checkpointLocation", ckpt), timeout_s)
    if state["n_batches"] == 0 or latest_commit(view_root) is None:
        raise RuntimeError("stream produced no batches")
    return read_table(spark, view_root)


def _append_commit(spark: SparkSession, root: str, txn_app: str,
                   batch_id: int, rows) -> None:
    """One replay-guarded micro-batch append to the manifest table at
    ``root``.  A replayed batch commits nothing and never calls ``rows``;
    otherwise ``rows()`` gives the batch's rows (None: nothing to
    commit), which land as ONE new version through ``manifest._commit``:
    the rows are written, every file of the previous version is
    hardlinked in, the txn watermark advances and the table's
    registrations carry forward at O(batch) cost; a lost commit race
    reruns on the winner's table."""
    from ..sources.manifest import _commit, _Written

    def write(info, data_dir):
        df = rows()
        if df is None:
            return None
        df.write.mode("append").parquet(data_dir)
        return _Written(df.columns, link_except=())

    _commit(spark, root, "stream append", write, keep_versions=2,
            txn=(txn_app, batch_id))


def streaming_append_table(
    spark: SparkSession, src_path: str, schema,
    table_root: str, work_dir: str,
    max_files_per_trigger: int = 4, timeout_s: int = 180,
) -> DataFrame:
    """Stream → lakehouse table: the most common streaming sink, done
    through the manifest commit log instead of bare file appends.  Each
    micro-batch lands as ONE committed version whose data dir contains
    the batch's rows plus HARDLINKS to every file of the previous
    version — append cost is O(batch) in write volume regardless of
    table size, readers always see a whole prefix of the stream (never a
    half-written batch), and the batch_id in the commit metadata makes a
    replayed batch (crash after commit, before the streaming checkpoint
    advanced) skip itself — exactly-once into the table across restarts.

    Returns the final table read through the manifest.  Scale: no
    driver-side rows; the only non-append work per batch is the link
    pass, O(files in table) metadata ops — bound THAT with
    ``compact_table`` (fewer, bigger files), exactly like any lakehouse
    maintains its ingest tables."""
    import os as _os2

    from ..sources.manifest import read_table

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(src_path))
    ckpt = _os2.path.join(work_dir, "ckpt")
    txn_app = _os2.path.abspath(ckpt)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _append_commit(spark, table_root, txn_app, batch_id,
                       lambda: batch_df)

    _drive(stream.writeStream.foreachBatch(_apply)
           .option("checkpointLocation", ckpt), timeout_s)
    return read_table(spark, table_root)


def streaming_ann_index_maintenance(
    spark: SparkSession, src_path: str, schema, name: str,
    delta_root: str, work_dir: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_files_per_trigger: int = 1, timeout_s: int = 180,
) -> DataFrame:
    """Keep a ``build_ann_index`` index CURRENT as vector batches land —
    "dedup/search the crawl as it arrives": each micro-batch is assigned
    against the STORED centroid table only (frozen quantizer,
    O(|batch| × nlist) — the ``ann_index_append`` cost shape) and its
    assignment rows are committed into a manifest-backed DELTA table
    (``sources/manifest.py``) through the txn-watermark replay guard, so
    a batch replayed after a crash recognizes itself and skips —
    EXACTLY-ONCE maintenance across restarts, and a concurrent probe
    (``ivf_topk_index_delta``) always sees whole micro-batches, never a
    torn append.  Because assignment is per-vector deterministic, the
    delta's final content is IDENTICAL no matter how the stream was
    chopped into batches — base ∪ delta ≡ a one-shot index over the
    full corpus with the same quantizer (the gate hashes exactly that).

    Per batch: O(|batch|) write volume (previous delta files hardlink),
    one nlist-row broadcast, no driver-side rows.  Returns the delta
    table read through the manifest (empty frame with the assignment
    schema when the stream produced no batches)."""
    import os as _os2

    from ..pipeline.similarity import ivf_assign
    from ..sources.index_tables import index_table
    from ..sources.manifest import latest_commit_info, read_table

    cent = spark.table(f"{name}_centroids")
    nlist = int(index_table(spark, f"{name}_meta").head()["nlist"])
    assign_schema = index_table(spark, f"{name}_assign").schema
    assign_cols = assign_schema.names
    carry = tuple(c for c in assign_cols
                  if c not in ("vid", "v", "_n2", "centroid_id"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(src_path))
    ckpt = _os2.path.join(work_dir, "ckpt")
    txn_app = _os2.path.abspath(ckpt)

    def _assigned(batch_df: DataFrame) -> DataFrame:
        _c, a = ivf_assign(batch_df, nlist=nlist, id_col=id_col,
                           vec_col=vec_col, carry=carry, centroids=cent)
        return a.select(*assign_cols)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _append_commit(spark, delta_root, txn_app, batch_id,
                       lambda: _assigned(batch_df))

    _drive(stream.writeStream.foreachBatch(_apply)
           .option("checkpointLocation", ckpt), timeout_s)
    if latest_commit_info(delta_root) is None:
        return spark.createDataFrame([], assign_schema)
    return read_table(spark, delta_root)


def streaming_dedup_ingest(
    spark: SparkSession, src_path: str, schema, name: str,
    work_root: str, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None, timeout_s: int = 240,
) -> DataFrame:
    """DEDUP THE CRAWL AS IT LANDS: a document stream is continuously
    matched against a ``build_dedup_index`` corpus AND against itself,
    while the index grows with every batch — the full composition of
    the incremental-dedup pieces under the exactly-once machinery.

    Per micro-batch: (1) shingle+band ONLY the batch (O(batch) — the
    ``dedup_index_append`` cost shape); (2) append its band/shingle
    rows to manifest-backed DELTA tables through the txn-watermark
    replay guard; (3) probe the batch against base ∪ delta (which now
    includes the batch itself, so within-batch duplicates surface too)
    with the batch side broadcast — the corpus is never re-shingled or
    shuffled; (4) upsert the verified pairs into a manifest matches
    table keyed on (doc_a, doc_b).

    The result is ORDER-INDEPENDENT: a pair (x, y) sharing a band with
    jaccard ≥ threshold and at least one side in the stream is found
    exactly when the LATER side's batch probes (the earlier side is
    already in base∪delta), and the keyed upsert makes re-discovery and
    replay idempotent — so the final matches table is identical no
    matter how the stream was chopped, which is what the gate hashes
    against a one-shot SQL oracle over base ∪ stream.

    Flood guard: the BASE index's hot-bucket table routes batch probes
    as in ``dedup_against_index``; delta contributions to bucket
    occupancy are not re-counted mid-stream (guard-only semantics —
    run ``dedup_index_append``'s recount, or rebuild, at maintenance
    windows).  Returns the matches table (doc_a, doc_b, jaccard).

    Trigger sizing (r16): ``max_files_per_trigger=None`` (default) sizes
    micro-batches by VOLUME — ~32 MB of source per trigger via
    :func:`files_per_trigger` — so a backlog of tiny files consolidates
    instead of paying the per-trigger fixed cost (2 delta appends + a
    probe + a keyed upsert) once per file, while fat crawl files stay
    one per trigger.  The result is chop-independent by construction
    (see above), so consolidation changes no output.  Pass an explicit
    int to pin the chopping (tests that exercise cross-batch discovery
    pass 1)."""
    import os as _os2

    from ..pipeline.dedup import (
        _banded_table, _hashed_shingles, _hot_table, _match_batch_to_corpus,
    )
    from ..sources.index_tables import with_delta
    from ..sources.manifest import (
        latest_commit_info, manifest_upsert, read_table,
    )

    if not spark.catalog.tableExists(f"{name}_meta"):
        raise ValueError(
            f"dedup index {name!r} has no {name}_meta table — the stream "
            f"must band with the index's exact parameters")
    meta = spark.table(f"{name}_meta").head()
    n, k = int(meta["n"]), int(meta["k"])
    bands_n, rows_n = int(meta["bands"]), int(meta["rows"])
    hot = _hot_table(spark, name, meta)
    bands_root = _os2.path.join(work_root, "delta_bands")
    sh_root = _os2.path.join(work_root, "delta_shingles")
    matches_root = _os2.path.join(work_root, "matches")
    ckpt = _os2.path.join(work_root, "ckpt")
    txn_app = _os2.path.abspath(ckpt)
    # Size the batch-side shingle hashing to the stream's volume (same
    # ceil(bytes/32MB) policy as stream_state_partitions): a micro-batch is
    # a bounded increment, and hashing it across defaultParallelism*2
    # partitions made every delta write a 64-file spray and every probe a
    # 64-task job for a handful of rows (measured: writes 1.5 s/run,
    # probe exec 1.3 s/run at gate scale — the dominant per-trigger cost).
    batch_parts = stream_state_partitions(spark, src_path)
    if max_files_per_trigger is None:
        max_files_per_trigger = files_per_trigger(src_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        hb = _hashed_shingles(batch_df, id_col, text_col, n,
                              parts=batch_parts)
        bb = _banded_table(hb, k, bands_n, rows_n)
        _append_commit(spark, bands_root, txn_app, batch_id,
                       lambda: bb.withColumnRenamed("doc_id", "corpus_id"))
        _append_commit(spark, sh_root, txn_app, batch_id,
                       lambda: hb.withColumnRenamed("doc_id", "corpus_id"))
        bc = with_delta(spark, f"{name}_bands", bands_root)
        hc = with_delta(spark, f"{name}_shingles", sh_root)
        m = _match_batch_to_corpus(
            hb, bb.toDF("batch_id", "band_idx", "band_hash"), hc, bc,
            threshold, broadcast_batch=True, corpus_hot=hot)
        # persist: the candidate join + Jaccard verify is the batch's
        # dominant cost, and downstream needs it thrice (emptiness
        # probe, the upsert's key scan, the merged write) — without the
        # barrier each consumer would recompute the whole match
        pairs = (m.filter(F.col("batch_id") != F.col("corpus_id"))
                 .select(F.least("batch_id", "corpus_id").alias("doc_a"),
                         F.greatest("batch_id", "corpus_id")
                         .alias("doc_b"),
                         "jaccard")
                 .distinct()).persist()
        try:
            if pairs.head(1):  # keyed upsert: replay-idempotent
                manifest_upsert(spark, matches_root, pairs,
                                ["doc_a", "doc_b"], keep_versions=2)
        finally:
            pairs.unpersist()

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(src_path))
    _drive(stream.writeStream.foreachBatch(_apply)
           .option("checkpointLocation", ckpt), timeout_s)
    if latest_commit_info(matches_root) is None:
        return spark.createDataFrame(
            [], "doc_a long, doc_b long, jaccard double")
    return read_table(spark, matches_root)


def streaming_table_changes(
    spark: SparkSession, table_root: str, key_cols: list[str],
    out_root: str, work_dir: str, timeout_s: int = 180,
    starting_version: int | None = None,
) -> DataFrame:
    """Tail a manifest table's commit log as a stream — the Delta
    ``readChangeFeed`` shape: every commit file under ``_commits/`` is
    immutable, tiny, and appears atomically (O_EXCL create), so Spark's
    file source tracks them with its own exactly-once offset log; each
    micro-batch turns its new versions into row-level change rows
    (``table_changes`` per consecutive version pair; version 1 is all
    inserts) and lands them in a DOWNSTREAM manifest table through the
    same replay-skip commit pattern as ``streaming_append_table`` —
    exactly-once end to end: a crash after the downstream commit but
    before the checkpoint advanced replays the batch, which recognizes
    itself and skips.

    Returns the downstream changelog table (``*key_cols, change_type,
    commit_version``) read through the manifest.

    Scale: per batch the work is O(changed versions) fingerprint diffs —
    two column-pruned scans + one key shuffle per version pair, nothing
    driver-side but the (bytes-sized) commit payloads.  The SOURCE
    table's vacuum retention must cover the consumer's lag (a diff of
    v-1→v needs v-1's data dir), exactly like Delta CDF; a partially
    read commit file fails the batch and retries complete — the offset
    log re-reads content, so nothing is skipped.

    ``starting_version`` skips history: versions below it stream
    through but emit no change rows (the Delta ``startingVersion``
    semantics — the feed carries CHANGES from that version on; read the
    base snapshot separately with ``read_table(version=…)``).  A feed
    attached late to a vacuumed table raises pointing here instead of a
    bare missing-dir error."""
    import json as _json
    import os as _os2

    from ..sources.manifest import read_table, table_changes

    cdir = _os2.path.join(table_root, "_commits")
    stream = (spark.readStream
              .option("maxFilesPerTrigger", 1)
              .option("pathGlobFilter", "v*.json")
              .text(cdir))
    ckpt = _os2.path.join(work_dir, "ckpt")
    txn_app = _os2.path.abspath(ckpt)

    def _changes(versions: list[int]) -> DataFrame | None:
        changes = None
        for v in versions:
            if starting_version is not None and v < starting_version:
                continue  # history the consumer opted out of
            try:
                if v == 1:
                    ch = (read_table(spark, table_root, version=1)
                          .select(*key_cols)
                          .withColumn("change_type", F.lit("insert")))
                else:
                    ch = (table_changes(spark, table_root, key_cols,
                                        v - 1, v)
                          .filter(F.col("change_type") != "unchanged")
                          .select(*key_cols, "change_type"))
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"change feed needs versions {max(1, v - 1)}..{v} of "
                    f"{table_root!r} but the vacuum retention already "
                    f"reclaimed one — raise the source's keep_versions to "
                    f"cover consumer lag, or start the feed with "
                    f"starting_version pointing at a retained version "
                    f"({e})") from None
            ch = ch.withColumn("commit_version", F.lit(v).cast("long"))
            changes = ch if changes is None else changes.unionByName(ch)
        return changes  # None: every version was before the start

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        payloads = [r.value for r in batch_df.collect()]
        if any(not p.strip() for p in payloads):
            # a partially-visible commit file (pre-atomic-link writers):
            # fail the batch so the retry re-reads completed content —
            # skipping would lose the version forever
            raise RuntimeError(
                f"batch {batch_id} read a blank commit payload from "
                f"{table_root!r}; retrying against completed content")
        versions = sorted(_json.loads(p)["version"] for p in payloads)
        if versions:
            _append_commit(spark, out_root, txn_app, batch_id,
                           lambda: _changes(versions))

    _drive(stream.writeStream.foreachBatch(_apply)
           .option("checkpointLocation", ckpt), timeout_s)
    return read_table(spark, out_root)
