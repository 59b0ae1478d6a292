"""Structured Streaming variant of the extraction pipeline — SURVEY.md §7.

The reference is a request/response server (``api.py:66-84``): each request
is one document processed on arrival.  The streaming analog consumes
transcript *appends* (a parquet directory a producer keeps writing into —
stand-in for a Kafka/Iceberg CDC feed), runs the SAME mention-detection
plan (narrow ops are streaming-safe as-is), and maintains two sinks:

- ``mentions`` — stateless append stream (one row per detected mention);
- ``label_counts`` — windowed aggregation by mention_type with a watermark
  on ``ts`` (late turns beyond the watermark are dropped, the documented
  late-data policy).

Scale notes: the detector is stateless so it scales with input partitions;
the windowed agg keys are (window, mention_type) — 8 labels, bounded state.
Checkpointing is Spark's own offset/state checkpoint (exactly-once per
sink), complementing the batch pipeline's snapshot checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mention_detect import detect_mentions_native
from ..sources.transcripts import TRANSCRIPT_SCHEMA

WATERMARK = "10 minutes"
WINDOW = "5 minutes"


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def streaming_mentions(transcripts: DataFrame) -> DataFrame:
    """The batch detector applied to a stream — identical plan, narrow ops
    only, so it is trigger-by-trigger incremental with no state; ``ts`` is
    carried through in-plan for watermarking (no stream-stream join)."""
    return detect_mentions_native(
        transcripts.select("conv_id", "turn_idx", "text", "ts"), carry=("ts",)
    )


def streaming_label_counts(transcripts: DataFrame) -> DataFrame:
    """Windowed mention counts per label with late-data watermark."""
    m = streaming_mentions(transcripts)
    return (
        m.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "mention_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "mention_type",
            "n",
        )
    )


def streaming_session_counts(transcripts: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-windowed per-conversation turn counts: a session closes after
    ``gap`` of inactivity on ``ts`` (SURVEY §2.9's streaming extension —
    session windows per conv_id with a watermark)."""
    return (
        transcripts.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("sw"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "conv_id",
            "n_turns",
        )
    )


def run_mentions_to_parquet(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
):
    """Continuous mention extraction into a parquet table via foreachBatch —
    the exactly-once sink pattern: each micro-batch writes to an
    epoch-suffixed directory first (idempotent on retry: same epoch
    overwrites itself), which on a real deployment is an Iceberg
    MERGE/append inside the same closure."""
    mentions = streaming_mentions(read_transcript_stream(spark, input_dir))

    def sink(batch_df, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        mentions.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_stream_to_memory(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, name: str = "label_counts"
):
    """Start the windowed-count stream into an in-memory table (tests/demo);
    production would writeStream.format('parquet'/'iceberg')."""
    counts = streaming_label_counts(read_transcript_stream(spark, input_dir))
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_triples(transcripts: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming form of the flagship triple materialization: a
    conversation's triples FINALIZE when the conversation goes quiet — a
    session window per (conv_id, mention_type) with the same
    (turn_idx, pos)-ordered ' '-join as ``triples.materialize_triples``.  Append-mode
    output: each (subj, pred, obj) row is emitted exactly once, when the
    watermark passes the session end (the streaming analog of "the
    document is fully received" in the reference's request loop).

    State is bounded: sessions hold only the mention structs of live
    conversations; the watermark evicts closed ones.
    """
    m = streaming_mentions(transcripts)
    return (
        m.withWatermark("ts", WATERMARK)
        .groupBy(
            F.session_window("ts", gap).alias("sw"),
            "conv_id",
            "mention_type",
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "pos", "surface"))),
                    lambda s: s["surface"],
                ),
                " ",
            ).alias("obj")
        )
        .select(
            F.col("conv_id").alias("subj"),
            F.col("mention_type").alias("pred"),
            "obj",
            "conv_id",
            F.col("sw.start").alias("session_start"),
        )
    )


def streaming_exact_dedup(transcripts: DataFrame) -> DataFrame:
    """Streaming ingestion dedup — the streaming twin of dd_exact: drop
    turns whose content fingerprint was already seen, with state bounded by
    the watermark (a duplicate arriving later than the watermark delay is
    passed through rather than remembered forever — the documented
    trade-off of bounded-state streaming dedup).

    Uses dropDuplicatesWithinWatermark so Spark evicts fingerprint state
    once the watermark passes; at 10^12-turn scale unbounded dedup state is
    the classic streaming OOM."""
    from ..operators.text_analysis import mdhash_spark

    return (
        transcripts.withColumn("text_fp", mdhash_spark(F.col("text")))
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["text_fp"])
    )


COMPACT_ON_START_EPOCHS = 64  # startup auto-compaction threshold (K):
#   compact the fact index before opening the stream when more than K
#   epoch dirs exist.  Sized from the measured O(epochs) listing cost —
#   at K=64 the per-batch listing stays trivially cheap while compaction
#   (a full index rewrite) amortizes over ≥K micro-batches per restart.


def run_novel_facts_to_parquet(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    compact_on_start_epochs: int | None = COMPACT_ON_START_EPOCHS,
):
    """Continuous NOVEL-FACT extraction — the streaming twin of
    ``operators.triples.kg_triples_incremental`` (north star: resumable,
    incremental graph materialization).  Finalized session triples are
    fingerprinted by FACT identity (md5(pred, obj) — independent of which
    conversation asserted the fact), anti-joined per micro-batch against
    the PERSISTENT fact index, and only first-ever assertions reach the
    sink; the batch's own fingerprints are then merged into the index so
    later batches (and later runs resuming from the same checkpoint)
    suppress them.

    Exactly-once discipline, same shape as ``run_mentions_to_parquet``:
    both the novel-triple output and the index delta go to
    epoch-suffixed directories (a retried epoch overwrites itself), and
    the index read EXCLUDES the current epoch's partition — on a retry
    the failed attempt's own delta is already on disk, and without the
    ``epoch < current`` guard the batch would anti-join against its own
    facts and emit an empty epoch (torn output) instead of reproducing
    the original one.

    Scale shape: the index is fp-only (60-bit ints, never obj strings) —
    the stream-side join is stream-static on fp, re-resolved from disk
    each epoch so compaction/bucketing of the index under the same path
    is transparent; on a real deployment the index is an Iceberg table
    and the two writes are one MERGE transaction.  Intra-batch repeats
    collapse with a per-batch DETERMINISTIC keeper on fp (min struct —
    an arbitrary-survivor dropDuplicates would let a replayed epoch
    overwrite its output with a different subj/conv_id row than the
    attempt a consumer already read; CLAUDE.md's "deterministic
    everywhere").  The keeper state is bounded by batch size, not stream
    history — the unbounded-state dedup stays in the index, which lives
    on disk, not in executor memory.

    Known local-path limitation, stated rather than hand-waved: the
    index grows one epoch directory per micro-batch and every batch
    re-lists all of them — O(epochs) listing plus a small-file
    accumulation on a long-running stream.  Safe in-sink compaction is
    NOT possible with plain parquet directories (folding epochs < N into
    any single dir breaks either the replay exclusion rule or the
    read-while-overwrite safety; every ordering has a crash window that
    loses fingerprints and re-emits old facts as novel), which is
    precisely the transactionality an Iceberg MERGE/rewrite provides on
    the production path.  The local shape is correct for test/dev
    streams; bound its lifetime with the STARTUP AUTO-COMPACTION below,
    or compact offline (scripts/compact_fact_index.py) while stopped.

    STARTUP AUTO-COMPACTION (r7 next-round item 5 — the operational half
    the r7 compactor lacked): when more than ``compact_on_start_epochs``
    epoch dirs exist, the index is compacted HERE, strictly before
    ``.start()`` — the one moment the stream provably is not running, so
    the stopped-stream precondition of compact_fact_index holds by
    construction (ownership contract, unchanged from the sink itself:
    one writer per index/checkpoint pair — two concurrent starts over
    the same index were never safe, compaction or not).  Every
    compactor crash window reads as the old layout (compaction.py), so
    a crash DURING startup compaction leaves the next start to finish
    the fold; the highest epoch stays untouched for replay idempotence.
    With restarts at any cadence the epoch-dir count is bounded by
    K + batches-per-run instead of growing with stream lifetime
    (test_fact_index_compaction.py's 30-micro-batch long-run pins the
    bound and byte-identical output vs a never-compacted control).
    ``None`` disables (the never-compacted control path).
    """
    from ..operators.text_analysis import mdhash_spark
    from .compaction import _epoch_dirs, compact_fact_index

    if (
        compact_on_start_epochs is not None
        and len(_epoch_dirs(index_dir)) > compact_on_start_epochs
    ):
        compact_fact_index(spark, index_dir)

    t = streaming_triples(read_transcript_stream(spark, input_dir), gap=gap)

    def _index_has_data() -> bool:
        """True iff some epoch partition holds a COMMITTED data file.  A
        crash between creating index_dir/epoch=0/_temporary and the
        parquet commit must read as "no index yet", not wedge every
        retry of epoch 0 in an unreadable-schema crash loop.  ONLY
        missing-path errors map to False — any other OSError (EIO,
        EACCES, fd exhaustion) propagates so the epoch FAILS and retries
        idempotently: swallowing it as "no index yet" would silently
        re-emit every previously-seen fact as novel, the exact
        contract break the probe exists to prevent.  A corrupt committed
        file likewise still fails the epoch at read time."""
        import os

        try:
            entries = os.listdir(index_dir)
        except FileNotFoundError:
            return False
        for d in entries:
            if not d.startswith("epoch="):
                continue
            sub = os.path.join(index_dir, d)
            try:
                names = os.listdir(sub)
            except (FileNotFoundError, NotADirectoryError):
                continue  # this epoch dir vanished mid-scan; keep looking
            if any(not f.startswith(("_", ".")) for f in names):
                return True
        return False

    def sink(batch_df, epoch_id: int) -> None:
        b = (
            batch_df.withColumn(
                "fp", mdhash_spark(F.concat_ws("\x01", "pred", "obj"))
            )
            .groupBy("fp")
            .agg(
                F.min(
                    F.struct("subj", "conv_id", "pred", "obj")
                ).alias("r")
            )
            .select("fp", "r.subj", "r.pred", "r.obj", "r.conv_id")
        )
        if _index_has_data():
            idx = spark.read.parquet(index_dir).filter(
                F.col("epoch") < F.lit(epoch_id)
            )
            novel = b.join(idx, "fp", "left_anti")
        else:  # first epoch: no index yet
            novel = b
        novel.persist()
        novel.select("subj", "pred", "obj", "conv_id").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/epoch={epoch_id}")
        novel.select("fp").write.mode("overwrite").parquet(
            f"{index_dir}/epoch={epoch_id}"
        )
        novel.unpersist()

    return (
        t.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
