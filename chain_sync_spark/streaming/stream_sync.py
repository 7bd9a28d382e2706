"""Structured Streaming runtime for the sync engine (SURVEY.md §2.7).

The reference's main loop is a hand-rolled micro-batch consumer:
fetch a block range, transform, upsert, advance cursor, sleep ~3 s
(listener.js:157-195). Structured Streaming provides that contract
natively — source offsets replace the block cursor, triggers replace
the sleep loop, and `foreachBatch` hands each micro-batch to the
exact same handler/MERGE pipeline the batch engine uses. One code
path, two runtimes.

Also here: event-time windowed aggregation with watermarks — the
streaming form of operators/temporal.py's window queries. Late rows
older than the watermark are dropped; closed windows emit in append
mode (at-least-once into an idempotent keyed sink = effectively
exactly-once, same argument as the batch engine).

Scale notes: a file/Kafka source shards micro-batches across
executors; the stateful window aggregation keeps per-window partial
state in the state store keyed by (window, group keys) — bounded by
the watermark horizon, not the stream length.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from chain_sync_spark.sources.blocks import OP_STREAM_SCHEMA
from chain_sync_spark.sources.checkpoint import recover_swap as _recover_store
from chain_sync_spark.sources.checkpoint import swap_dir
from chain_sync_spark.sources.frames import driver_frame


def stream_ops_from_json(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming op source: the JSON-lines directory an RPC fetch
    stage appends to (S1's streaming form)."""
    reader = spark.readStream.schema(OP_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def windowed_op_counts(
    ops: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window counts per op type with a late-data
    watermark — the streaming twin of window_tumbling_events."""
    w = F.window("ts", window)
    return (
        ops.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), F.col("op_type"))
        .agg(F.count(F.lit(1)).alias("n_ops"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "op_type",
            "n_ops",
        )
    )


def dedup_ops_within_watermark(ops: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch
    dedup_exact_documents operator, and an explicit form of the
    dedup the reference gets implicitly from idempotent upserts
    (listener.js crash replay re-delivers whole blocks): redelivered
    ops are dropped on (block_num, op_type, op) identity, emitted
    rows come out exactly once.

    Scale: state is keyed by the dedup columns and bounded by the
    watermark horizon — a key is remembered only until the event-time
    watermark passes it, so state size tracks the late-data window,
    not the stream length."""
    return ops.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["block_num", "op_type", "op"]
    )


def join_votes_to_comments_stream(
    ops: DataFrame, max_lag: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each vote op matches the comment op
    that created its post, provided the vote arrives within
    `max_lag` of the comment (the event-time range condition that
    lets Spark bound join state). Both sides carry a watermark, so
    buffered rows age out once the watermark passes comment_ts +
    max_lag — state is bounded by the lag window, not the stream
    length."""
    comments = (
        ops.filter(F.col("op_type") == "comment")
        .select(
            F.get_json_object("op", "$.author").alias("author"),
            F.get_json_object("op", "$.permlink").alias("permlink"),
            F.col("ts").alias("comment_ts"),
        )
        .withWatermark("comment_ts", max_lag)
    )
    votes = (
        ops.filter(F.col("op_type") == "vote")
        .select(
            F.get_json_object("op", "$.voter").alias("voter"),
            F.get_json_object("op", "$.author").alias("v_author"),
            F.get_json_object("op", "$.permlink").alias("v_permlink"),
            F.col("ts").alias("vote_ts"),
        )
        .withWatermark("vote_ts", max_lag)
    )
    return comments.join(
        votes,
        (F.col("author") == F.col("v_author"))
        & (F.col("permlink") == F.col("v_permlink"))
        & (F.col("vote_ts") >= F.col("comment_ts"))
        & (F.col("vote_ts") <= F.col("comment_ts") + F.expr(f"INTERVAL {max_lag}")),
    ).select("author", "permlink", "voter", "comment_ts", "vote_ts")


def run_stream_sync(
    engine,
    ops: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Drive a SyncEngine from a streaming op source: every
    micro-batch flows through the same process_batch → MERGE path as
    the batch loop. Offsets/commits live in the streaming checkpoint;
    the merges are idempotent, so at-least-once delivery is safe
    (reference crash-replay contract).

    `available_now=True` processes everything currently in the source
    then stops — the reference's STOP_BLOCK_NUMBER backfill mode.
    """

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        engine.process_batch(batch_df)

    writer = (
        ops.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- merged-state store commit protocol -----------------------------------
#
# A merged-state store (rollup, CMS, Bloom, KMV, lang counts, profile,
# histogram) is rewritten whole every batch; the table and its replay
# marker must commit ATOMICALLY, and a crash at any point must be
# recoverable.  _commit_store writes the merged table into
# store.staging with _rollup_commit.json inside it (marker and data
# land in the same rename), then sources.checkpoint.swap_dir swaps it
# in: rename store → store.old → rename staging → store → remove
# store.old — the same recoverable swap the sync cursor commits
# through.  _recover_store (sources.checkpoint.recover_swap) repairs
# every crash window: leftover staging is discarded (batch replays), a
# missing store with store.old present is restored, a surviving
# store.old next to a committed store is cleared.
#
# The marker is keyed on (checkpoint identity, batch_id): batch ids
# restart at 0 under a fresh checkpoint, so a bare high-water mark would
# silently skip genuinely NEW data.  Contract: the store belongs to its
# checkpoint — reset them TOGETHER.  Re-pointing an existing store at a
# new checkpoint over an already-ingested source re-merges (double
# counts) by design; that is the caller asserting the source only holds
# new data.

_COMMIT_META = "_rollup_commit.json"


def _read_commit_meta(store_dir: str) -> dict:
    path = os.path.join(store_dir, _COMMIT_META)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def _write_marker(store_dir: str, meta: dict) -> None:
    """Commit ``meta`` as the store's marker with one atomic replace."""
    tmp = os.path.join(store_dir, _COMMIT_META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(store_dir, _COMMIT_META))


def _commit_store(merged: DataFrame, store_dir: str, meta: dict) -> None:
    """Write merged+marker to staging, then swap in recoverably."""

    def _write(staging: str) -> None:
        merged.write.mode("overwrite").parquet(staging)
        # marker inside the staged dir: data and replay mark commit in ONE
        # rename (underscore prefix → invisible to parquet readers)
        _write_marker(staging, meta)

    swap_dir(store_dir, _write)


# --- append-only store commit protocol -------------------------------------
#
# The near-dup and PQ index stores only ever GROW: bands/shingles/
# decisions/codes gain each batch's rows and never change old ones.
# Rewriting the whole table through the staging swap made every commit
# O(history) IO (flagged in the round-4 ADVICE); this protocol makes it
# O(batch), which is what a lakehouse APPEND costs:
#
#   store_dir/_rollup_commit.json        marker — the ONLY commit point
#   store_dir/<table>/delta-<batch_id>/  one parquet dir per batch
#   store_dir/<once_table>/              write-once state (PQ codebook)
#
# Commit order: write every delta dir (and any missing write-once table,
# staged + renamed so its presence implies completeness), then atomically
# os.replace the marker.  Readers trust only deltas with batch_id <= the
# marker's — a crash after data but before the marker leaves orphan
# deltas that are (a) invisible to readers and (b) deleted by
# _recover_append_store before the replayed batch rewrites them.  The
# marker keeps the (checkpoint identity, batch_id) replay contract of
# the swap protocol.

_DELTA_PREFIX = "delta-"

# Append-table schemas per store — the one definition each maintainer,
# probe, and compaction caller shares (pass to compact_store verbatim).
NEARDUP_STORE_TABLES = {
    "bands": "doc_id long, band_idx int, bkey string",
    "shingles": "doc_id long, sh array<string>",
    "decisions": "doc_id long, is_dup boolean, dup_of long, batch_id long",
}
PQ_STORE_TABLES = {
    "codes": "vec_id long, m int, code_id long, batch_id long",
}
CLUSTER_STORE_TABLES = {
    "assignments": "vec_id long, cluster_id int, batch_id long",
}
SHINGLE_STORE_TABLES = {
    "shingles": "h long",
    "decisions": (
        "doc_id long, n_tokens int, cut_tokens long, kept_md5 string,"
        " batch_id long"
    ),
}
WINNOW_STORE_TABLES = {
    "fps": "doc_id long, h long",
    "hdf": "h long, df long",
    "pairs": "doc_a long, doc_b long, shared_fps long, batch_id long",
}


def _delta_path(store_dir: str, name: str, batch_id: int) -> str:
    return os.path.join(store_dir, name, f"{_DELTA_PREFIX}{batch_id:08d}")


def _committed_batch(store_dir: str) -> int:
    return _read_commit_meta(store_dir).get("batch_id", -1)


_COMPACT_PREFIX = "compact-"


def _compacted_through(store_dir: str) -> int:
    return _read_commit_meta(store_dir).get("compacted_through", -1)


def _recover_append_store(store_dir: str) -> None:
    """Repair any crash window of the append-only commit (idempotent):
    delete delta dirs newer than the committed marker (written but never
    committed — the batch replays and rewrites them), half-written
    staging dirs, compact dirs the marker doesn't reference (a crashed
    compaction), and delta dirs a committed compaction superseded (a
    crash before compaction cleanup)."""
    if not os.path.isdir(store_dir):
        return
    committed = _committed_batch(store_dir)
    compacted = _compacted_through(store_dir)
    for name in os.listdir(store_dir):
        sub = os.path.join(store_dir, name)
        if not os.path.isdir(sub):
            continue
        if name.endswith(".staging"):
            shutil.rmtree(sub)
            continue
        for d in os.listdir(sub):
            path = os.path.join(sub, d)
            if d.startswith(_DELTA_PREFIX):
                try:
                    bid = int(d[len(_DELTA_PREFIX):])
                except ValueError:
                    continue
                if bid > committed or bid <= compacted:
                    shutil.rmtree(path)
            elif d.startswith(_COMPACT_PREFIX):
                try:
                    bid = int(d[len(_COMPACT_PREFIX):])
                except ValueError:
                    shutil.rmtree(path)  # crashed compaction staging
                    continue
                if bid != compacted:
                    shutil.rmtree(path)


def _commit_append(
    store_dir: str,
    append_tables: dict[str, DataFrame],
    batch_id: int,
    meta: dict,
    *,
    once_tables: dict[str, DataFrame] | None = None,
) -> None:
    """Append each table's batch rows as one delta dir, create any
    missing write-once table, then commit everything with a single
    atomic marker replace.  Per-batch IO is O(batch rows) — history is
    never rewritten.

    FAILS FAST when the store already belongs to a DIFFERENT
    checkpoint: delta paths are keyed only by batch_id, and batch ids
    restart at 0 under a fresh checkpoint, so pointing a new stream at
    an existing append store would silently OVERWRITE the old stream's
    low-numbered committed deltas while leaving later ones intact — a
    mixed, corrupted history (the full-rewrite swap protocol merely
    re-merges under the same misuse).  Mirrors the PQ-codebook
    fail-fast: reset store and checkpoint TOGETHER.

    Known, accepted window: the guard keys off the COMMITTED marker,
    so a store directory holding only orphan (uncommitted) deltas
    from a crashed first run is silently adopted by a foreign
    checkpoint and its orphans overwritten — acceptable because
    orphan deltas are invisible to readers (read_store_table serves
    only marker-covered deltas) and recovery deletes them anyway."""
    committed = _read_commit_meta(store_dir)
    if committed and committed.get("checkpoint") != meta.get("checkpoint"):
        raise ValueError(
            f"append store {store_dir!r} is bound to checkpoint "
            f"{committed.get('checkpoint')!r} but this stream commits under "
            f"{meta.get('checkpoint')!r}; delta dirs are keyed by batch_id "
            "alone, so continuing would overwrite committed history — "
            "reset the store together with its checkpoint"
        )
    os.makedirs(store_dir, exist_ok=True)
    for name, df in (once_tables or {}).items():
        final = os.path.join(store_dir, name)
        if not os.path.isdir(final):
            staging = final + ".staging"
            df.write.mode("overwrite").parquet(staging)
            os.replace(staging, final)
    for name, df in append_tables.items():
        df.write.mode("overwrite").parquet(_delta_path(store_dir, name, batch_id))
    # a maintenance compaction may have run between batches: its state
    # rides along in every subsequent marker
    compacted = _compacted_through(store_dir)
    if compacted >= 0:
        meta = {**meta, "compacted_through": compacted}
    _write_marker(store_dir, meta)


def read_store_table(
    spark: SparkSession, store_dir: str, name: str, schema: str
) -> DataFrame:
    """Committed view of an append-only store table: the compact base
    (if a compaction committed) plus every delta dir in
    (compacted_through, committed].  Uncommitted (crash-orphaned)
    deltas and unreferenced compact dirs are invisible.  The one read
    path for serving queries AND the maintenance stream itself."""
    meta = _read_commit_meta(store_dir)
    committed = meta.get("batch_id", -1)
    compacted = meta.get("compacted_through", -1)
    table_dir = os.path.join(store_dir, name)
    paths = []
    if os.path.isdir(table_dir):
        base = os.path.join(table_dir, f"{_COMPACT_PREFIX}{compacted:08d}")
        if compacted >= 0 and os.path.isdir(base):
            paths.append(base)
        for d in sorted(os.listdir(table_dir)):
            if d.startswith(_DELTA_PREFIX):
                try:
                    bid = int(d[len(_DELTA_PREFIX):])
                except ValueError:
                    continue
                if compacted < bid <= committed:
                    paths.append(os.path.join(table_dir, d))
    if not paths:
        return driver_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*paths)


def compact_store(
    spark: SparkSession,
    store_dir: str,
    tables: dict[str, str],
    *,
    folds: dict | None = None,
) -> int:
    """Offline maintenance for an append-only store — the local
    analogue of lakehouse OPTIMIZE: fold every committed delta of each
    table (``name → schema``) into one ``compact-<B>`` base dir
    (B = the committed batch id), commit the fold with the same single
    atomic marker replace the stream uses, then drop the superseded
    delta dirs.  Bounds the small-files growth of a long-running
    stream; per-batch commits stay O(batch) because compaction is an
    explicit, occasional O(history) job — exactly the cost split a
    lakehouse gives you.

    ``folds`` optionally maps a table name to a DataFrame→DataFrame
    fold applied during compaction — for stores whose rows are
    themselves mergeable, not just appendable (the LM store's
    additive (w1, w2, cnt) counts: ``compact_lm_store`` collapses
    duplicate keys so the base converges to GLOBAL-distinct size
    instead of sum-of-batch-distinct).  A fold must be
    read-equivalent: readers always aggregate across base+deltas
    anyway, so folding changes the stored row count, never a probe
    result.  Tables not named fold as plain row unions (the
    append-only doc/pair stores, where every row is already
    distinct).

    Safe to run between micro-batches of a STOPPED stream (single
    writer per store, like the stream itself).  Crash windows: a
    compact dir without its marker is unreferenced (readers ignore it,
    recovery deletes it); a marker without cleanup leaves stale deltas
    ≤ compacted_through (readers ignore them, recovery deletes them).
    Returns the batch id the store is now compacted through, or -1 if
    the store has no committed batches yet."""
    _recover_append_store(store_dir)
    meta = _read_commit_meta(store_dir)
    committed = meta.get("batch_id", -1)
    if committed < 0:
        return -1
    if meta.get("compacted_through", -1) == committed:
        return committed  # nothing newer than the last compaction
    for name, schema in tables.items():
        rows = read_store_table(spark, store_dir, name, schema)
        fold = (folds or {}).get(name)
        if fold is not None:
            rows = fold(rows)
        staging = os.path.join(store_dir, name, f"{_COMPACT_PREFIX}staging")
        rows.write.mode("overwrite").parquet(staging)
        os.replace(
            staging,
            os.path.join(store_dir, name, f"{_COMPACT_PREFIX}{committed:08d}"),
        )
    _write_marker(store_dir, {**meta, "compacted_through": committed})
    # cleanup is exactly what recovery does after a crash here: drop the
    # superseded deltas and any previous compact base
    _recover_append_store(store_dir)
    return committed


def _maintain(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    step,
    *,
    merge=None,
    key: str | None = None,
    once: tuple[str, ...] = (),
) -> StreamingQuery:
    """The one store-maintainer loop behind every run_stream_* store —
    the reference's fetch → transform → upsert → advance loop
    (listener.js:157-195) with foreachBatch delivering at-least-once:
    per micro-batch, repair any crash window of the store's commit,
    skip a batch the marker already covers under this checkpoint (the
    (checkpoint identity, batch_id) replay mark commits atomically with
    the data, so this is the same advance-after-commit argument as the
    sync engine's cursor, listener.js:140-142), drop in-batch repeats
    of ``key``, transform, commit.

    Merged-state store (``merge`` given): ``step(batch)`` is the
    batch's delta and ``merge(stored, delta)`` folds it into the stored
    table; the result replaces the store through the full-rewrite swap.
    The first batch commits its delta as is, so a delta must itself be
    a valid store.  At scale the same delta feeds the partition-pruned
    MERGE path (sync/merge.py) or a transactional MERGE INTO.

    Append store: ``step(batch, batch_id, cache)`` returns ``{table:
    rows}``; tables named in ``once`` are write-once (created when
    missing, never rewritten), every other table appends one delta dir,
    and one marker replace commits them all.  ``cache(df)`` persists a
    batch intermediate the step reuses; the loop releases it after the
    commit, also when the commit raises (e.g. the foreign-checkpoint
    fail-fast)."""
    ckpt_id = os.path.realpath(checkpoint_dir)
    recover = _recover_append_store if merge is None else _recover_store

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        recover(store_dir)
        meta = _read_commit_meta(store_dir)
        if meta.get("checkpoint") == ckpt_id and meta.get("batch_id", -1) >= batch_id:
            return  # replayed batch under the same checkpoint — already committed
        if key is not None:
            # at-least-once sources can repeat an immutable record WITHIN
            # one micro-batch as well as across batches; the store is
            # keyed, so dedup the batch by key up front (repeats are
            # identical by the immutable-record contract, making the pick
            # value-deterministic).  Without this a doubled row doubles
            # its stored rows permanently — e.g. a PQ vector's ADC sums.
            batch_df = batch_df.dropDuplicates([key])
        mark = {"checkpoint": ckpt_id, "batch_id": batch_id}
        if merge is not None:
            merged = step(batch_df)
            if os.path.isdir(store_dir):
                merged = merge(batch_df.sparkSession.read.parquet(store_dir), merged)
            _commit_store(merged, store_dir, mark)
            return
        held: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            held.append(df.persist())
            return held[-1]

        try:
            tables = step(batch_df, batch_id, cache)
            _commit_append(
                store_dir,
                {n: df for n, df in tables.items() if n not in once},
                batch_id,
                mark,
                once_tables={n: tables[n] for n in once},
            )
        finally:
            for df in held:
                df.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) for any documents-shaped frame — the streaming
    sibling of llm_pipeline._docs_shingled (same normalize → words →
    word-trigram pipeline, ≥3-word eligibility on the cheap word
    count)."""
    from chain_sync_spark.functions import sketches as sk

    d = docs.withColumn("t", sk.normalize_text(F.col("text"))).withColumn(
        "w", sk.words(F.col("t"))
    )
    return d.filter(F.size("w") >= 3).select(
        "doc_id", sk.word_shingles(F.col("w"), 3).alias("sh")
    )


def _band_relation(sh_df: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bkey) MinHash-LSH band keys of a (doc_id,
    sh) relation — identical signature/band constants to the batch
    operators, so the stored index is interchangeable."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators.llm_pipeline import (
        N_BANDS,
        N_MINHASH,
        ROWS_PER_BAND,
    )

    sigs = sh_df.select(
        "doc_id", sk.minhash_sigs(F.col("sh"), N_MINHASH).alias("sig")
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.element_at("sig", b * ROWS_PER_BAND + r + 1)
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "bkey")
    )


def _probe_collisions(
    idx_bands: DataFrame,
    idx_sh: DataFrame,
    bands_b: DataFrame,
    sh_b: DataFrame,
    threshold: float,
    *,
    in_batch: bool,
) -> DataFrame:
    """(doc_b, dup_of) — batch docs whose bands collide with the
    stored index (and, when ``in_batch``, with smaller-id docs of the
    same batch), confirmed by exact shingle Jaccard >= threshold.
    Shared by the index-maintenance stream (in_batch=True) and the
    read-only probe (in_batch=False)."""
    all_bands = idx_bands.withColumn("is_new", F.lit(False))
    if in_batch:
        all_bands = all_bands.unionByName(
            bands_b.withColumn("is_new", F.lit(True))
        )
    a, b = all_bands.alias("a"), bands_b.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (~F.col("a.is_new") | (F.col("a.doc_id") < F.col("b.doc_id"))),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    all_sh = idx_sh.unionByName(sh_b) if in_batch else idx_sh
    sa, sb = all_sh.alias("sa"), sh_b.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter((inter / union) >= threshold)
        .groupBy("doc_b")
        .agg(F.min("doc_a").alias("dup_of"))
    )


def probe_neardup_index(
    spark: SparkSession,
    store_dir: str,
    docs: DataFrame,
    *,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Read-only duplicate probe against a run_stream_neardup_index
    store: for each shingle-eligible input doc (doc_id, text), report
    whether it near-duplicates a STORED document (band collision +
    exact-Jaccard confirm) — without mutating the index. The serving/
    dry-run path: "would this crawl batch be flagged?" Uses the same
    collision logic as the maintenance stream (a pytest asserts
    decision parity for a batch with no in-batch duplicates), minus
    the in-batch smaller-id rule — membership is against the store
    only."""
    from chain_sync_spark.operators.llm_pipeline import CLUSTER_MIN_JACCARD

    threshold = CLUSTER_MIN_JACCARD if min_jaccard is None else min_jaccard
    idx_bands = read_store_table(
        spark, store_dir, "bands", NEARDUP_STORE_TABLES["bands"]
    )
    idx_sh = read_store_table(
        spark, store_dir, "shingles", NEARDUP_STORE_TABLES["shingles"]
    )
    sh_b = _doc_shingles(docs.select("doc_id", "text"))
    bands_b = _band_relation(sh_b)
    dups = _probe_collisions(
        idx_bands, idx_sh, bands_b, sh_b, threshold, in_batch=False
    )
    return (
        sh_b.select("doc_id")
        .join(dups, F.col("doc_id") == F.col("doc_b"), "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def run_stream_neardup_index(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    *,
    min_jaccard: float | None = None,
) -> StreamingQuery:
    """Continuously-maintained near-duplicate index — the streaming
    twin of operators/corpus_ops.neardup_incremental_minhash: each
    micro-batch of documents (doc_id, text) probes the STORED MinHash
    band index for collisions (band match → exact shingle-Jaccard
    verify against historical + smaller-id in-batch docs), appends the
    surviving (non-duplicate) docs' bands/shingles to the index, and
    records one decision row per eligible doc.

    Store layout (append-only commit — delta dirs + one atomic marker
    replace per batch, crash-recoverable via _recover_append_store):
      store_dir/bands/delta-<b>      (doc_id, band_idx, bkey) — LSH index
      store_dir/shingles/delta-<b>   (doc_id, sh)             — verify side
      store_dir/decisions/delta-<b>  (doc_id, is_dup, dup_of, batch_id)
      store_dir/_rollup_commit.json                           — commit point

    Scale: per batch the probe join is O(batch · collisions) on
    uniform band keys, the verify touches candidate ids only, and
    index maintenance is a true APPEND — each batch writes only its
    own rows as a new delta dir and commits by replacing the marker,
    so commit IO is O(batch) regardless of history size.  Docs with
    <3 words are ineligible and get no decision row, mirroring the
    batch operator.  Read the store through read_store_table (it
    filters to committed deltas)."""
    from chain_sync_spark.operators.llm_pipeline import CLUSTER_MIN_JACCARD

    threshold = CLUSTER_MIN_JACCARD if min_jaccard is None else min_jaccard

    def _tables(batch_df: DataFrame, batch_id: int, cache) -> dict:
        spark = batch_df.sparkSession
        sh_b = cache(_doc_shingles(batch_df.select("doc_id", "text")))
        bands_b = _band_relation(sh_b)
        idx_bands = read_store_table(
            spark, store_dir, "bands", NEARDUP_STORE_TABLES["bands"]
        )
        idx_sh = read_store_table(
            spark, store_dir, "shingles", NEARDUP_STORE_TABLES["shingles"]
        )
        dups = _probe_collisions(
            idx_bands, idx_sh, bands_b, sh_b, threshold, in_batch=True
        )
        dec_b = (
            sh_b.select("doc_id")
            .join(dups, F.col("doc_id") == F.col("doc_b"), "left")
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )
        survivors = dec_b.filter(~F.col("is_dup")).select("doc_id")
        return {
            "bands": bands_b.join(survivors, "doc_id", "left_semi"),
            "shingles": sh_b.join(survivors, "doc_id", "left_semi"),
            "decisions": dec_b,
        }

    return _maintain(stream_docs, store_dir, checkpoint_dir, _tables, key="doc_id")


def probe_shingle_index(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """Read-only duplicated-span probe against a
    run_stream_shingle_index store: for each input doc (doc_id,
    text), cut every token interval whose 8-token shingle already
    exists in the stored history and report (doc_id, n_tokens,
    cut_tokens, kept_md5) — the dry-run "how much of this crawl is
    boilerplate we already hold?" without mutating the index.  Same
    cut math as the batch operator pipeline_extras.
    dedup_incremental_spans (a pytest pins decision parity), history
    side served from the store."""
    from chain_sync_spark.operators.pipeline_extras import (
        _rebuild_after_cut,
        _shingle_pos,
    )

    hist_h = read_store_table(
        spark, store_dir, "shingles", SHINGLE_STORE_TABLES["shingles"]
    )
    d = docs.select("doc_id", "text")
    cut_hits = (
        _shingle_pos(d).join(hist_h, "h", "left_semi").select("doc_id", "pos")
    )
    return _rebuild_after_cut(d, cut_hits)


def run_stream_shingle_index(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously-maintained exact-shingle index — the streaming
    twin of pipeline_extras.dedup_incremental_spans: each micro-batch
    of documents (doc_id, text) cuts the token intervals whose
    shingle the STORE already holds (history wins), records one
    decision row per doc, and appends the batch's genuinely-new
    shingle hashes so later batches treat this one as history.

    Store layout (append-only commit — delta dirs + one atomic marker
    replace per batch, crash-recoverable via _recover_append_store):
      store_dir/shingles/delta-<b>   (h)                — history set
      store_dir/decisions/delta-<b>  (doc_id, n_tokens, cut_tokens,
                                      kept_md5, batch_id)
      store_dir/_rollup_commit.json                     — commit point

    Scale: the probe is a hash-keyed semi-join of the batch's shingle
    positions against the store; the append is the batch's DISTINCT
    new hashes (anti-joined against the store, so the index holds one
    row per distinct shingle ever seen); commit IO is O(batch).  The
    cut/rebuild math is the shared pipeline_extras machinery, so the
    batch certifier's driver green covers the serving arithmetic."""
    from chain_sync_spark.operators.pipeline_extras import (
        _rebuild_after_cut,
        _shingle_pos,
    )

    def _tables(batch_df: DataFrame, batch_id: int, cache) -> dict:
        d = batch_df.select("doc_id", "text")
        pos = cache(_shingle_pos(d))
        hist_h = read_store_table(
            batch_df.sparkSession,
            store_dir,
            "shingles",
            SHINGLE_STORE_TABLES["shingles"],
        )
        cut_hits = pos.join(hist_h, "h", "left_semi").select("doc_id", "pos")
        dec = _rebuild_after_cut(d, cut_hits).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        new_h = pos.select("h").distinct().join(hist_h, "h", "left_anti")
        return {"shingles": new_h, "decisions": dec}

    return _maintain(stream_docs, store_dir, checkpoint_dir, _tables, key="doc_id")


def _winnow_capped_index(spark, store_dir: str) -> DataFrame:
    """The stored (doc_id, h) fingerprint relation with boilerplate
    fingerprints removed: h's total document frequency (summed over
    the per-batch hdf deltas) must stay within WN_MAX_DF."""
    from chain_sync_spark.operators.pipeline_extras import WN_MAX_DF

    fps = read_store_table(spark, store_dir, "fps", WINNOW_STORE_TABLES["fps"])
    hdf = read_store_table(spark, store_dir, "hdf", WINNOW_STORE_TABLES["hdf"])
    cap = (
        hdf.groupBy("h")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") <= WN_MAX_DF)
        .select("h")
    )
    return fps.join(cap, "h", "left_semi")


def probe_winnow_index(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """Read-only near-dup probe against a run_stream_winnow_index
    store: each input doc's winnowing fingerprint set is matched
    against the STORED per-doc sets; pairs sharing >= WN_MIN_SHARED
    non-boilerplate fingerprints are reported as (doc_a stored,
    doc_b probed, shared_fps) — the MOSS serving path ("which stored
    documents does this submission overlap?") without mutating the
    index.  The match arithmetic is winnow_match_pairs, shared with
    the batch certifier winnow_probe_newdocs, whose driver green
    covers this serving path."""
    from chain_sync_spark.operators.pipeline_extras import winnow_match_pairs

    return winnow_match_pairs(_winnow_capped_index(spark, store_dir), docs)


def run_stream_winnow_index(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously-maintained winnowing fingerprint index — the
    streaming twin of pipeline_extras.neardup_winnow_pairs and the
    shape of a plagiarism/overlap service (MOSS): each micro-batch of
    documents (doc_id, text) probes its fingerprint sets against the
    STORED per-doc sets (boilerplate-capped), records the matched
    pairs, and appends its own fingerprints plus per-hash document
    frequency deltas.

    Store layout (append-only commit — delta dirs + one atomic marker
    replace per batch, crash-recoverable via _recover_append_store):
      store_dir/fps/delta-<b>    (doc_id, h)   — per-doc fingerprints
      store_dir/hdf/delta-<b>    (h, df)       — df deltas (read: SUM)
      store_dir/pairs/delta-<b>  (doc_a, doc_b, shared_fps, batch_id)
      store_dir/_rollup_commit.json            — commit point

    The df cap is evaluated at PROBE time over the summed deltas, so
    a fingerprint that becomes boilerplate later stops pairing without
    any store rewrite.  In-batch pairs are intentionally not recorded
    (the batch certifier covers the full-corpus form); commit IO is
    O(batch); the stored index is ~1/WN_W of the gram stream."""
    from chain_sync_spark.operators.pipeline_extras import (
        WN_MIN_SHARED,
        winnow_fingerprints,
    )

    def _tables(batch_df: DataFrame, batch_id: int, cache) -> dict:
        fp_b = cache(winnow_fingerprints(batch_df.select("doc_id", "text")))
        idx = _winnow_capped_index(batch_df.sparkSession, store_dir)
        pairs = (
            idx.alias("a")
            .join(fp_b.alias("b"), F.col("a.h") == F.col("b.h"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= WN_MIN_SHARED)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        hdf_delta = fp_b.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        return {"fps": fp_b, "hdf": hdf_delta, "pairs": pairs}

    return _maintain(stream_docs, store_dir, checkpoint_dir, _tables, key="doc_id")


def run_stream_pq_index(
    stream_emb: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously-maintained product-quantization ANN index — the
    streaming twin of operators/llm_pipeline.embedding_pq_assign: the
    FIRST micro-batch trains the codebook (deterministic seed-vector
    stand-in, vec_id < PQ_K, exactly as the batch operator); every
    batch then assigns codes against the STORED codebook — frozen
    after training, the production contract for a PQ index (codes are
    only comparable under one codebook) — and appends the new
    vectors' code rows. Re-delivered vec_ids keep their first codes.

    Store layout (append-only commit — delta dirs + one atomic marker
    replace per batch, crash-recoverable via _recover_append_store):
      store_dir/codebook            (code_id, m, csub)     — write-once
      store_dir/codes/delta-<b>     (vec_id, m, code_id, batch_id)
      store_dir/_rollup_commit.json                        — commit point

    A codebook trained from a first batch that lacks the seed vectors
    would be partial (or empty — and an empty codebook makes the
    broadcast join in _pq_assigned emit zero rows, silently indexing
    nothing forever), so training FAILS FAST unless the trained
    codebook carries all PQ_M × PQ_K codewords.  The codebook dir is
    staged and renamed into place, so its presence implies a complete
    codebook even across a crash before the first marker.

    Scale: per batch the compute is the batch-sized broadcast-codebook
    assign (O(batch · PQ_M · PQ_K) distance rows, map-side argmin) and
    the anti-join id probe against stored codes; the commit writes ONLY
    the fresh rows as a new codes/ delta dir and replaces the marker —
    O(batch) IO regardless of index size, the lakehouse-APPEND cost.
    ADC queries (embedding_pq_adc_topk's shape) read codebook + the
    committed codes deltas via read_store_table."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators import llm_pipeline as lp

    def _tables(batch_df: DataFrame, batch_id: int, _cache) -> dict:
        spark = batch_df.sparkSession
        emb = batch_df.select(
            "vec_id", sk.vec_double(F.col("embedding")).alias("e")
        )
        if os.path.isdir(os.path.join(store_dir, "codebook")):
            cb = spark.read.parquet(os.path.join(store_dir, "codebook"))
        else:
            cb = lp._pq_codebook(emb)
            # fail fast on a degenerate codebook: a first batch without
            # all seed vec_ids would freeze a partial/empty codebook and
            # every later batch would silently index nothing
            n_codes = cb.count()
            if n_codes < lp.PQ_K * lp.PQ_M:
                raise ValueError(
                    f"PQ codebook training saw {n_codes} codewords, "
                    f"needs {lp.PQ_K * lp.PQ_M} (PQ_K x PQ_M); the first "
                    "micro-batch must contain every seed vector "
                    f"(vec_id < {lp.PQ_K}) — reorder the stream or defer "
                    "training"
                )
        old_codes = read_store_table(
            spark, store_dir, "codes", PQ_STORE_TABLES["codes"]
        )
        assigned = lp._pq_assigned(emb, codebook=cb).select(
            "vec_id",
            "m",
            "code_id",
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        fresh = assigned.join(
            old_codes.select("vec_id").distinct(), "vec_id", "left_anti"
        )
        return {"codes": fresh, "codebook": cb}

    return _maintain(
        stream_emb, store_dir, checkpoint_dir, _tables,
        key="vec_id", once=("codebook",),
    )


def search_pq_index(
    spark: SparkSession,
    store_dir: str,
    query_emb: DataFrame,
    *,
    topk: int | None = None,
) -> DataFrame:
    """ADC top-k search over a run_stream_pq_index store — the query
    path that makes the streamed index useful: reads the frozen
    codebook + codes tables and delegates the scoring to
    operators/llm_pipeline.pq_adc_topk_against — the arithmetic the
    batch certifier pq_probe_newvecs carries into the driver window,
    so its driver green certifies THIS read path verbatim (the
    probe_lm / probe_winnow_index pattern).  Identical scoring to
    embedding_pq_adc_topk (a pytest asserts result equality when the
    store indexes the same corpus); the corpus floats are never read
    — only the 3-int code rows.

    ``query_emb`` is (vec_id, embedding array<float>); queries are
    NOT excluded from results unless their vec_id matches an indexed
    id (self-match suppressed, mirroring the batch operator)."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators import llm_pipeline as lp

    k = lp.ANN_TOPK if topk is None else topk
    cb = spark.read.parquet(os.path.join(store_dir, "codebook"))
    codes = read_store_table(
        spark, store_dir, "codes", PQ_STORE_TABLES["codes"]
    )
    q = query_emb.select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    return lp.pq_adc_topk_against(codes, q, cb, k, exclude_self=True).select(
        "query_id",
        "neighbor_id",
        (F.col("adc_micros").cast("double") / lp.PQ_DIST_SCALE).alias("adc_dist"),
        "rk",
    )


def run_stream_rollup(
    stream_df: DataFrame,
    store_dir: str,
    keys: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental materialized-rollup maintenance under Structured
    Streaming: each micro-batch's PARTIAL aggregate
    (operators/incremental.rollup_events) merges into the stored
    per-key totals — O(batch) per trigger, the streaming twin of the
    batch incremental.merge_rollup round.

    Sums are not idempotent, so the replay mark _maintain commits
    with the table is what keeps a redelivered batch from
    double-counting.  The store is bound to its checkpoint: reset the
    two together.
    """
    from chain_sync_spark.operators.incremental import merge_rollup, rollup_events

    return _maintain(
        stream_df, store_dir, checkpoint_dir,
        lambda batch: rollup_events(batch, keys),
        merge=lambda stored, delta: merge_rollup(stored, delta, keys),
    )


def run_stream_cms(
    stream_df: DataFrame,
    store_dir: str,
    term_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming count-min-sketch maintenance: each micro-batch's
    sketch partial (operators/incremental.cms_stats) folds cell-wise
    into the stored sketch — heavy-hitter tracking over an unbounded
    term stream with CONSTANT state (rows x width cells), where exact
    per-term counts would need a vocabulary-sized state store. The
    batch certifier (corpus_ops.heavy_hitters_cms) proves the
    estimate's >=-exact bound against true counts on static data;
    this maintainer keeps the same sketch fresh per trigger.  Cells are
    sums, so the replay mark is a correctness guard here."""
    from chain_sync_spark.operators.incremental import cms_stats, merge_cms

    return _maintain(
        stream_df, store_dir, checkpoint_dir,
        lambda batch: cms_stats(batch, term_col),
        merge=merge_cms,
    )


def probe_cms(spark, store_dir: str, terms: list[str]) -> DataFrame:
    """Read-only frequency estimates from a streamed count-min store:
    hash each probe term into its CMS_ROWS cells and take the MIN —
    always >= the term's true count over everything the maintainer
    has folded in (missing cells read as 0: the term never occurred).
    The store never exceeds rows x width cells, so the serving join
    broadcasts it however large the stream history."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators.corpus_ops import CMS_ROWS, CMS_WIDTH

    sketch = spark.read.parquet(store_dir)
    probes = (
        driver_frame(spark, [(t,) for t in terms], "term string")
        .select(
            "term",
            F.explode(F.array(*[F.lit(r) for r in range(CMS_ROWS)])).alias("r"),
        )
        .withColumn(
            "bucket",
            F.pmod(
                sk.hash60(
                    F.concat(
                        F.lit("cms"), F.col("r").cast("string"),
                        F.lit(":"), F.col("term"),
                    )
                ),
                F.lit(CMS_WIDTH),
            ),
        )
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("cell", F.lit(0))).alias("est_cnt"))
    )


def run_stream_bloom(
    stream_df: DataFrame,
    store_dir: str,
    key_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming Bloom-filter maintenance: each micro-batch's occupied
    bit positions (operators/incremental.bloom_bits) union into the
    stored bit set — membership pre-screening over an unbounded key
    stream with CONSTANT state (<= BLOOM_BITS rows), where an exact
    member set would grow with history.  The batch certifier
    (corpus_ops.bloom_probe_fingerprints) proves the no-false-negative
    bound and surfaces the false-positive rows on static data; this
    maintainer keeps the same bit set fresh per trigger.  The union is
    idempotent as well as order-independent, so even a replayed batch
    merging twice could not corrupt the sketch — the batch-id
    high-water mark still skips it for cost, not correctness."""
    from chain_sync_spark.operators.incremental import bloom_bits, merge_bloom

    return _maintain(
        stream_df, store_dir, checkpoint_dir,
        lambda batch: bloom_bits(batch, key_col),
        merge=merge_bloom,
    )


def probe_bloom(spark, store_dir: str, keys: list[str]) -> DataFrame:
    """Read-only membership probes against a streamed Bloom store: a
    key hits iff ALL of its K bit positions are occupied.  No false
    negatives over everything the maintainer has folded in; false
    positives at the m/n rate.  The store never exceeds BLOOM_BITS
    rows, so the serving join broadcasts it however long the stream
    history."""
    from chain_sync_spark.operators.incremental import bloom_positions

    occ = spark.read.parquet(store_dir).withColumn("occ", F.lit(1))
    probes = driver_frame(spark, [(k,) for k in keys], "key string").select(
        "key", F.explode(bloom_positions(F.col("key"))).alias("bit")
    )
    return (
        probes.join(F.broadcast(occ), "bit", "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("occ", F.lit(0))).alias("bloom_hit"))
    )


def run_stream_kmv(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming KMV (bottom-k) cardinality-sketch maintenance: each
    micro-batch's distinct shingle hashes (corpus_ops.kmv_hashes —
    the arithmetic the batch audit kmv_distinct_shingles certifies)
    merge into the stored per-source bottom-{{K_KMV}} set via
    corpus_ops.kmv_bottomk over the union.  Bottom-k is associative
    AND idempotent (min-merge), so like the Bloom store a replayed
    batch could not corrupt the sketch — the batch-id high-water mark
    skips it for cost, not correctness.  State is <= K_KMV rows per
    source however long the stream history; distinct-count serving at
    any point is probe_kmv, which shares corpus_ops.kmv_estimate with
    the audit.  The delta is the batch's own bottom-k, because the
    first batch commits its delta as the store; merging it yields the
    same store as merging the batch's full hash set, since bottom-k of
    a union equals bottom-k of the union of bottom-ks."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators.corpus_ops import kmv_bottomk, kmv_hashes

    def _delta(batch: DataFrame) -> DataFrame:
        d = batch.select(
            "source", sk.words(sk.normalize_text(F.col("text"))).alias("w")
        )
        return kmv_bottomk(kmv_hashes(d))

    return _maintain(
        stream_docs, store_dir, checkpoint_dir, _delta,
        merge=lambda stored, delta: kmv_bottomk(
            stored.unionByName(delta).distinct()
        ),
    )


def run_stream_lang_counts(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming per-language corpus-count maintenance: each
    micro-batch's (lang, n_docs, n_tokens) partial
    (pipeline_extras.lang_token_counts) SUM-merges into the stored
    totals — the count grain the temperature-sampling weights read,
    kept fresh per trigger with language-cardinality state.  Sums are
    not idempotent, so the replay mark is the correctness guard against
    a redelivered batch, and the doc_id dedup against a doc repeated
    inside one batch."""
    from chain_sync_spark.operators.pipeline_extras import lang_token_counts

    def _merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            stored.unionByName(delta)
            .groupBy("lang")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
        )

    return _maintain(
        stream_docs, store_dir, checkpoint_dir, lang_token_counts,
        merge=_merge, key="doc_id",
    )


def probe_temperature_mixture(spark, store_dir: str) -> DataFrame:
    """Temperature-sampling weights served from a streamed
    lang-counts store, through the exact arithmetic the batch query
    certifies (pipeline_extras.temperature_weights_from_counts).
    The store is language-cardinality rows — broadcast-sized at any
    stream length."""
    from chain_sync_spark.operators.pipeline_extras import (
        temperature_weights_from_counts,
    )

    return temperature_weights_from_counts(spark.read.parquet(store_dir))


def probe_kmv(spark, store_dir: str) -> DataFrame:
    """Read-only distinct-count estimates from a streamed KMV store:
    (source, kth_min, est_kmv) through corpus_ops.kmv_estimate — the
    exact arithmetic the batch audit's driver green certifies.  The
    store is k rows per source, so the read is a broadcast-sized
    scan at any stream length."""
    from chain_sync_spark.operators.corpus_ops import kmv_estimate

    return kmv_estimate(spark.read.parquet(store_dir))


_LM_STORE_SCHEMA = "w1 string, w2 string, cnt bigint"


def _bigram_counts(docs: DataFrame) -> DataFrame:
    """(w1, w2, cnt) bigram counts of a documents-shaped frame — the
    shared tokenizer (corpus_ops._bigram_pairs over normalize→words),
    so stored counts are interchangeable with every batch bigram
    consumer."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators.corpus_ops import _bigram_pairs

    d = docs.select(
        "doc_id", sk.words(sk.normalize_text(F.col("text"))).alias("w")
    )
    return _bigram_pairs(d).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def run_stream_lm(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously-maintained bigram language model — the streaming
    twin of the corpus LM behind corpus_ops.lm_known_bigram_score /
    ngram_lm_topk: each micro-batch of documents (doc_id, text) folds
    its bigram counts in as an additive delta, so the stored model
    always reflects everything ingested without ever rescanning
    history.  This is the reference-LM maintenance loop of a rolling
    quality filter: the model grows with the trusted corpus while
    probe_lm scores each NEW crawl batch against it before admission.

    Store layout (append-only commit — delta dirs + one atomic marker
    replace per batch, crash-recoverable via _recover_append_store):
      store_dir/bigrams/delta-<b>   (w1, w2, cnt) — read: SUM by key
      store_dir/_rollup_commit.json               — commit point

    Counts are additive, so deltas need no store read at commit time
    (pure O(batch distinct bigrams) IO — cheaper than even the bloom
    maintainer's read-merge-rewrite) and summing deltas at probe time
    is exact regardless of batch boundaries.  The store grows with
    DISTINCT bigrams (Zipf-bounded vocabulary², not corpus size);
    compact_store folds the deltas when they accumulate — at cluster
    scale both the store and the probe join are hash-partitioned on
    (w1, w2), nothing broadcasts.  Counts are sums, so a doc repeated
    inside one batch is dropped by doc_id before counting."""
    return _maintain(
        stream_docs, store_dir, checkpoint_dir,
        lambda batch, _batch_id, _cache: {"bigrams": _bigram_counts(batch)},
        key="doc_id",
    )


def compact_lm_store(spark: SparkSession, store_dir: str) -> int:
    """LM-store maintenance: compact_store with the key-collapsing
    fold — duplicate (w1, w2) rows across deltas sum into one, so the
    compacted base holds GLOBAL-distinct bigrams instead of the
    sum of per-batch distinct counts.  Read-equivalent by
    construction (probe_lm sums by key over base+deltas either way);
    this is the fold that stops a long-running LM store's row count
    from growing with batch count."""
    return compact_store(
        spark,
        store_dir,
        {"bigrams": _LM_STORE_SCHEMA},
        folds={
            "bigrams": lambda df: df.groupBy("w1", "w2").agg(
                F.sum("cnt").alias("cnt")
            )
        },
    )


def probe_lm(spark: SparkSession, store_dir: str, docs: DataFrame) -> DataFrame:
    """Score a batch of documents (doc_id, text) against a streamed
    bigram-LM store: per doc, the fraction of its bigrams "known" to
    the stored model (summed count >= corpus_ops.LM_MIN_COUNT) — the
    same integer contract as the batch scorer
    (corpus_ops.lm_known_bigram_score: n_bigrams, n_known,
    known_micros BIGINT, keep), so a probe over a store that folded
    the whole corpus is decision-identical to the batch run.

    Scale: ONE hash join of the batch's bigram rows against the
    summed store keyed (w1, w2), then a map-side-combinable per-doc
    aggregate; the document text never travels past the first
    projection (score_against_lm — the arithmetic shared with the
    batch certifier lm_probe_newdocs, whose driver green covers this
    serving path)."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators.corpus_ops import score_against_lm

    counts = (
        read_store_table(spark, store_dir, "bigrams", _LM_STORE_SCHEMA)
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("cnt"))
    )
    d = docs.select(
        "doc_id", sk.words(sk.normalize_text(F.col("text"))).alias("w")
    )
    return score_against_lm(counts, d)


def run_stream_profile(
    stream_df: DataFrame,
    store_dir: str,
    cols: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming data-quality profile maintenance: each micro-batch's
    mergeable column profile (operators/incremental.profile_stats —
    row/null counts, lexicographic min/max per column) merges into the
    stored profile, O(columns) per trigger — the observability monitor
    that watches an ingestion stream's shape drift without ever
    rescanning history.  Counts are sums, so the replay mark is a
    correctness guard here.  Exact distinct counts are holistic and
    intentionally absent (profile_stats docstring); schedule the batch
    profiler (corpus_ops.profile_column_stats) for those on full
    recomputes."""
    from chain_sync_spark.operators.incremental import merge_profile, profile_stats

    return _maintain(
        stream_df, store_dir, checkpoint_dir,
        lambda batch: profile_stats(batch, cols),
        merge=merge_profile,
    )


def run_stream_histogram(
    stream_df: DataFrame,
    store_dir: str,
    value_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming quantile-sketch maintenance: each micro-batch's
    base-2 log-histogram partial (operators/incremental.hist_stats)
    folds bin-wise into the stored sketch — percentile tracking over
    an unbounded value stream with CONSTANT state (≤ 2·HIST_RANGE+3
    bins), where an exact percentile would need the raw history.
    Quantiles served from the sketch carry the log-histogram's bounded
    RELATIVE error (each value is reported as its bin's geometric
    midpoint — within 1.5× of the truth), the same trade the public
    HDRHistogram/DDSketch designs make. Completes the profile-monitor
    family: run_stream_profile covers algebraic stats, run_stream_cms
    heavy hitters, this the distribution shape.

    Merged-state table → full-rewrite swap is the correct commit; the
    table is constant-size.  Multi-column monitoring runs one
    maintainer per column (one store each) — the stores are
    constant-size, so N columns cost N tiny tables, and quantile
    serving stays per-column-independent."""
    from chain_sync_spark.operators.incremental import hist_stats, merge_hist

    return _maintain(
        stream_df, store_dir, checkpoint_dir,
        lambda batch: hist_stats(batch, value_col),
        merge=merge_hist,
    )


def probe_quantiles(
    spark: SparkSession, store_dir: str, qs: list[float]
) -> dict[float, float]:
    """Read-only quantile estimates from a streamed histogram store:
    collect the constant-size sketch and walk it per requested
    quantile. Serving cost is O(bins + len(qs)) — independent of how
    much history the maintainer has folded in."""
    from chain_sync_spark.operators.incremental import quantile_from_hist

    bins = [(r["bin"], r["cnt"]) for r in spark.read.parquet(store_dir).collect()]
    return {q: quantile_from_hist(bins, q) for q in qs}


def run_stream_cluster_assign(
    stream_emb: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously-maintained k-means cluster index — the streaming
    twin of operators/llm_pipeline.kmeans_embedding_clusters under the
    same first-batch-trains contract as the PQ index: the FIRST
    micro-batch runs the full integer-Lloyd training loop (seeds =
    vec_id < KMEANS_K, exactly the batch operator) and freezes the
    centroids; every batch then assigns its vectors against the STORED
    centroids and appends the new rows. Re-delivered vec_ids keep
    their first assignment. Cluster ids are only comparable under one
    centroid set, so retraining is an explicit offline job.

    Store layout (append-only commit — delta dirs + one atomic marker
    replace, crash-recoverable via _recover_append_store):
      store_dir/centroids               (cid, c array<bigint>) — frozen
      store_dir/assignments/delta-<b>   (vec_id, cluster_id, batch_id)
      store_dir/_rollup_commit.json                        — commit point

    Training FAILS FAST if the first batch lacks any seed vector
    (a partial seed set would freeze centroids nobody chose); the
    staged-rename of centroids/ means its presence implies a complete
    training run even across a crash before the first marker.

    Scale: per batch the compute is the broadcast-centroid map-side
    argmin plus the anti-join id probe against stored assignments;
    the commit writes ONLY the fresh rows — O(batch) IO, like the
    neardup/PQ stores. compact_store bounds delta growth."""
    from chain_sync_spark.operators import llm_pipeline as lp

    def _tables(batch_df: DataFrame, batch_id: int, _cache) -> dict:
        spark = batch_df.sparkSession
        vecs = batch_df.select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * lp._KM_SCALE + F.lit(0.5)),
            ).alias("ei"),
        )
        if os.path.isdir(os.path.join(store_dir, "centroids")):
            cents = spark.read.parquet(os.path.join(store_dir, "centroids"))
        else:
            n_seeds = vecs.filter(F.col("vec_id") < lp.KMEANS_K).count()
            if n_seeds < lp.KMEANS_K:
                raise ValueError(
                    f"k-means training saw {n_seeds} seed vectors, needs "
                    f"{lp.KMEANS_K} (vec_id < {lp.KMEANS_K}) in the first "
                    "micro-batch — reorder the stream or defer training"
                )
            cents = lp._km_train(vecs)
        assigned = lp._km_assign(vecs, cents).select(
            "vec_id",
            F.col("cid").cast("int").alias("cluster_id"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        old = read_store_table(
            spark, store_dir, "assignments", CLUSTER_STORE_TABLES["assignments"]
        )
        fresh = assigned.join(
            old.select("vec_id").distinct(), "vec_id", "left_anti"
        )
        return {"assignments": fresh, "centroids": cents}

    return _maintain(
        stream_emb, store_dir, checkpoint_dir, _tables,
        key="vec_id", once=("centroids",),
    )
