package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (readStream → transforms → writeStream).
  *
  * The extraction pipeline is per-document stateless, so the batch
  * pipeline runs unchanged on a streaming Dataset[Doc]: streaming
  * extraction is `ExtractionPipeline.run` on a streaming source (file,
  * Kafka-decoded, MemoryStream in tests), with the same stages, the same
  * 16 MB cap and the same bytes as a batch. Micro-batches are the streaming
  * analogue of the reference's Celery queue (app/tasks.py): arrival-ordered
  * work units, per-worker model reuse, progress via the streaming query
  * listener instead of Redis task states.
  *
  * The session stream reads event time from a `ts` column and holds late
  * rows for a 10-minute watermark.
  */
object StreamingExtraction {

  /** Event-time column of the session stream. */
  private val Ts = "ts"

  /** Its watermark delay. */
  private val Watermark = "10 minutes"

  /** The interval join's event-time window: a purchase joins the clicks of
    * the hour before it. */
  private val IntervalWindowSeconds = 3600L

  /** Watermark delay of both interval-join sides. */
  private val IntervalWatermark = "2 hours"

  /** Inactivity gap that closes a session of [[sessionMetrics]]. */
  private val SessionGap = "30 minutes"

  /** Event-time SESSION windows over the metrics stream — the streaming
    * analogue of the batch sessionize (q24): rows for the same key within
    * `SessionGap` of each other merge into one dynamic-length session;
    * `session_window` keeps state only for OPEN sessions and the watermark
    * finalizes + evicts them, so state is bounded by concurrently-active
    * keys, not history. Append mode emits each session exactly once, when
    * the watermark passes its close — the right contract for downstream
    * sinks that must never see a session twice. Sessions are keyed by
    * `user_id`. */
  def sessionMetrics(events: DataFrame): DataFrame =
    events
      .withWatermark(Ts, Watermark)
      .groupBy(session_window(col(Ts), SessionGap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming benchmark decontamination — the continuous-ingestion form
    * of `CorpusOps.decontaminate`: the static eval set's gram hashes (MBs
    * against an unbounded stream) are collected once at query build and
    * broadcast; each arriving doc counts its distinct w-gram hashes
    * (`CorpusOps.DecontamW`-grams) against the broadcast set inside the
    * map stage. Per-doc stateless:
    * zero shuffles, no state store, no watermark needed — the right shape
    * for a filter that every ingested document must pass exactly once.
    * Emits (doc_id, n_hit_grams) for contaminated docs only. */
  def decontaminateStream(docs: Dataset[(Long, String)],
                          benchmark: DataFrame): Dataset[(Long, Long)] = {
    val w = graft.ops.CorpusOps.DecontamW
    val spark = docs.sparkSession
    import spark.implicits._
    val benchSet: Set[Long] = benchmark
      .select(col("text")).as[String]
      .flatMap(t => graft.ops.DedupOps.gramHashes(t, w))
      .distinct().collect().toSet
    val bc = spark.sparkContext.broadcast(benchSet)
    docs.map { case (id, text) =>
      val set = bc.value
      var n = 0L
      graft.ops.DedupOps.gramHashes(text, w)
        .foreach(h => if (set.contains(h)) n += 1)
      (id, n)
    }.filter(_._2 > 0L)
  }

  /** Streaming exact dedup via custom state
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`): keyed by content
    * hash, the state is one boolean per key — the first arrival of a hash
    * passes through, every later duplicate (within or across micro-batches)
    * is dropped. At 10^12 docs the state store shards by the same hash key
    * the batch dedup groups on, so memory per task is bounded by distinct
    * keys per shard. */
  def dedupStream(docs: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey { case (_, text) => graft.ops.Corpus64.md5Low64(text) }
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) {
            Iterator.empty // hash already seen in an earlier batch
          } else {
            state.update(true)
            // keeper = min doc_id within this batch for the key (matches
            // the batch dedup's min-keeper rule)
            rows.toSeq.sortBy(_._1).headOption.iterator
          }
      }
  }

  /** CDC-style streaming snapshot maintenance — the streaming form of
    * MERGE INTO: each micro-batch of (doc_id, text, seq, is_delete) change
    * rows is collapsed last-write-wins per key (max `seq`; MERGE requires
    * unique delta keys) and applied to the parquet snapshot at
    * `snapshotPath` via `foreachBatch` + `MergeOps.upsert`. The merged
    * result is materialized (eager localCheckpoint) before the overwrite
    * because raw parquet cannot be rewritten while the plan still reads
    * it; on the 10^12-row deployment both concerns disappear into an
    * Iceberg `MERGE INTO` commit per batch (atomic snapshot swap, partial
    * file rewrite instead of full overwrite — the operator shape is
    * identical). */
  def upsertStream(changes: Dataset[(Long, String, Long, Boolean)],
                   snapshotPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    changes.toDF("doc_id", "text", "seq", "is_delete")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyUpsertBatch(batch, snapshotPath)
      }
      .start()
  }

  /** One foreachBatch application of a change-set to the snapshot —
    * IDEMPOTENT under batch replay: re-applying an already-merged delta
    * is a no-op (keyed last-write-wins upsert; a replayed update writes
    * the same value, a replayed delete finds no row). foreachBatch's
    * delivery contract is at-least-once — after a failure the SAME batch
    * may be redelivered — so sink idempotence is exactly what upgrades
    * the end-to-end pipeline to exactly-once snapshots. Asserted by
    * StreamingSpec's replay test. */
  private[graft] def applyUpsertBatch(batch: DataFrame, snapshotPath: String): Unit = {
    val spark = batch.sparkSession
    val delta = batch.groupBy(col("doc_id"))
      .agg(max_by(struct(col("text"), col("is_delete")), col("seq"))
        .as("b"))
      .select(col("doc_id"), col("b.text").as("text"),
        col("b.is_delete").as("is_delete"))
    val snap =
      if (new java.io.File(snapshotPath).exists)
        spark.read.parquet(snapshotPath)
      else delta.select(col("doc_id"), col("text")).limit(0)
    val merged = graft.ops.MergeOps
      .upsert(snap, delta, "doc_id")
      .localCheckpoint(true)
    merged.write.mode("overwrite").parquet(snapshotPath)
    ()
  }

  /** STREAM-STREAM interval join — the streaming analogue of the batch
    * range join (q23): each purchase joins every click by the same user in
    * the hour before it. Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark derives a state-
    * retention horizon for each side (a click's state is droppable once
    * the purchase watermark passes click_ts + window) — state is bounded
    * by rate × (watermark + window), never by history. Append-mode inner
    * join: a pair is emitted exactly once, whichever side arrives first.
    * Inputs: purchases(p_user, p_ts, p_id), clicks(c_user, c_ts, c_id). */
  def intervalJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("p_ts", IntervalWatermark)
    val c = clicks.withWatermark("c_ts", IntervalWatermark)
    p.join(c, expr(
      s"""p_user = c_user AND
          c_ts >= p_ts - INTERVAL $IntervalWindowSeconds SECONDS AND
          c_ts <= p_ts"""))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
  }

  /** Running per-key event count on Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes `mapGroupsWithState` (typed
    * `ValueState`/`ListState`/`MapState` handles, per-state TTL, timers)
    * and requires the RocksDB state store, the provider a 10^12-key
    * deployment runs anyway (state spills off-heap instead of living in
    * executor memory). The processor keeps one `ValueState[Long]` per
    * key; each micro-batch emits the updated running count. */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode,
      TimerValues, TTLConfig, ValueState}
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (cnt.exists()) cnt.get() else 0L) + rows.size
      cnt.update(n)
      Iterator.single((key, n))
    }
  }

  /** `transformWithState` driver for [[RunningCountProcessor]] over
    * (user_id, event_id) rows. */
  def runningCountsTws(events: Dataset[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events")
  }
}
