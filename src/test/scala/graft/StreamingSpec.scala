package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.io.Synthesizer
import graft.model.Doc
import graft.pipe.{ExtractionPipeline, Sink}
import graft.streaming.StreamingExtraction

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("streaming extraction over MemoryStream matches the batch pipeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 100L).map(n => Synthesizer.genDoc(42L, n))
    val stream = MemoryStream[Doc]
    stream.addData(docs.take(50))

    val q = ExtractionPipeline.run(stream.toDS()).toDF()
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    stream.addData(docs.drop(50)) // second micro-batch
    q.processAllAvailable()
    q.stop()

    val got = spark.table("stream_out")
      .select(col("doc_id"), col("record_json")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = docs.map { d =>
      val r = ExtractionPipeline.run(spark.createDataset(Seq(d))).collect()(0)
      r.doc_id -> r.record_json
    }.toMap
    assert(got === want)
  }

  test("stream-stream interval join pairs each purchase with prior-hour " +
    "clicks, across micro-batches, in either arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pStream = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val cStream = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val out = StreamingExtraction.intervalJoinStream(
      pStream.toDS().toDF("p_user", "p_ts", "p_id"),
      cStream.toDS().toDF("c_user", "c_ts", "c_id"))
    val q = out.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    // batch 1: click before its purchase (click side arrives first)
    cStream.addData(Seq((1L, ts(5), 101L), (2L, ts(6), 102L)))
    pStream.addData(Seq((1L, ts(30), 201L)))
    q.processAllAvailable()
    // batch 2: purchase's click arrives LATER than the purchase; also a
    // same-user click 2h before a purchase (outside the window → no pair)
    pStream.addData(Seq((2L, ts(40), 202L)))
    cStream.addData(Seq((3L, ts(0), 103L)))
    pStream.addData(Seq((3L, java.sql.Timestamp.valueOf(
      "2026-01-01 12:30:00"), 203L)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((201L, 101L), (202L, 102L)),
      s"got $pairs")
  }

  test("transformWithState running count: ValueState persists across " +
    "micro-batches in the RocksDB state store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val st = MemoryStream[(Long, Long)]
      st.addData(Seq((1L, 10L), (1L, 11L), (2L, 20L)))
      val q = StreamingExtraction.runningCountsTws(st.toDS())
        .writeStream.format("memory").queryName("tws_counts")
        .outputMode("update").start()
      q.processAllAvailable()
      st.addData(Seq((1L, 12L), (3L, 30L)))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("tws_counts").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      assert(last === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("session windows merge events within the gap, close on watermark, " +
    "emit once in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val ts = (h: Int, m: Int) =>
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val q = StreamingExtraction
      .sessionMetrics(stream.toDS().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // u1: two events 2 min apart (one session), then one 58 min later,
    // past the 30-minute gap (a second session)
    stream.addData(Seq((ts(10, 0), "u1"), (ts(10, 2), "u1"),
      (ts(11, 0), "u1")))
    q.processAllAvailable()
    // the batch's own watermark (11:00 - 10m = 10:50) already closes the
    // FIRST session (ends 10:32); the 11:00 session is still open
    assert(spark.table("sess_out").count() === 1)
    // sentinel event pushes the watermark to 11:50 — the second closes too
    stream.addData(Seq((ts(12, 0), "u2")))
    q.processAllAvailable()
    q.processAllAvailable() // second no-data batch finalizes the emit
    q.stop()
    val got = spark.table("sess_out")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3))).toSet
    // session end = last event + gap; u2's session is still open
    assert(got === Set(
      ("u1", ts(10, 0), ts(10, 32), 2L),
      ("u1", ts(11, 0), ts(11, 30), 1L)))
  }

  test("streaming dedup drops duplicates within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq(3L -> "alpha beta", 1L -> "alpha beta", 2L -> "unique one"))
    val q = StreamingExtraction.dedupStream(stream.toDS())
      .toDF("doc_id", "text")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // cross-batch duplicate + a fresh doc
    stream.addData(Seq(9L -> "alpha beta", 4L -> "brand new"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    // min-keeper within batch 1 (doc 1 beats 3), duplicate 9 dropped in batch 2
    assert(got === Set(1L -> "alpha beta", 2L -> "unique one", 4L -> "brand new"))
  }

  test("streaming upsert maintains a parquet snapshot across micro-batches " +
    "(last-write-wins in batch, delete wins, insert/update across batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_upsert").toString + "/snap"
    val stream = MemoryStream[(Long, String, Long, Boolean)]
    // batch 1: inserts, incl. an in-batch duplicate key (seq 2 wins)
    stream.addData(Seq((1L, "one-a", 1L, false), (1L, "one-b", 2L, false),
      (2L, "two", 1L, false), (3L, "three", 1L, false)))
    val q = StreamingExtraction.upsertStream(stream.toDS(), path)
    q.processAllAvailable()
    val after1 = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after1 === Map(1L -> "one-b", 2L -> "two", 3L -> "three"))
    // batch 2: update key 2, delete key 3, insert key 4
    stream.addData(Seq((2L, "two-v2", 5L, false), (3L, "", 5L, true),
      (4L, "four", 5L, false)))
    q.processAllAvailable()
    q.stop()
    val after2 = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2 === Map(1L -> "one-b", 2L -> "two-v2", 4L -> "four"))
  }

  test("foreachBatch upsert sink is idempotent under batch replay " +
    "(exactly-once snapshot despite at-least-once delivery)") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_replay").toString + "/snap"
    val b1 = Seq((1L, "one", 1L, false), (2L, "two", 1L, false),
      (3L, "three", 1L, false)).toDF("doc_id", "text", "seq", "is_delete")
    StreamingExtraction.applyUpsertBatch(b1, path)
    val b2 = Seq((2L, "two-v2", 5L, false), (3L, "", 5L, true),
      (4L, "four", 5L, false)).toDF("doc_id", "text", "seq", "is_delete")
    StreamingExtraction.applyUpsertBatch(b2, path)
    val once = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // a failure between the merge and the offset commit redelivers the
    // SAME batch — the snapshot must not change on the second apply
    StreamingExtraction.applyUpsertBatch(b2, path)
    val twice = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once === Map(1L -> "one", 2L -> "two-v2", 4L -> "four"))
    assert(twice === once)
  }

  test("streaming decontamination flags docs against the static benchmark, " +
       "matching the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benchSpan = "the quick brown fox jumps"
    val bench = Seq((100L, s"eval item with $benchSpan inside"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      1L -> s"leading words $benchSpan trailing words", // hit (batch 1)
      2L -> "nothing shared here at all today",         // clean (batch 1)
      3L -> s"another doc also containing $benchSpan")  // hit (batch 2)
    val stream = MemoryStream[(Long, String)]
    stream.addData(corpus.take(2))
    val q = StreamingExtraction.decontaminateStream(stream.toDS(), bench)
      .toDF("doc_id", "n_hit_grams")
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    q.processAllAvailable()
    stream.addData(corpus.drop(2))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decon_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val batch = graft.ops.CorpusOps.decontaminate(
        corpus.toDF("doc_id", "text"), bench).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hit_grams")).toSet
    assert(got === batch)
    assert(got.map(_._1) === Set(1L, 3L))
  }

  test("stream-static broadcast join enriches micro-batches with a dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("en", 10L), ("fr", 20L)).toDF("lang", "weight")
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq(1L -> "en", 2L -> "fr", 3L -> "en"))
    // static side broadcast: every micro-batch joins map-side, no
    // stream-side shuffle — the enrichment shape for per-record dimension
    // lookups at 10^12 rows (dim tables stay small)
    val joined = stream.toDS().toDF("doc_id", "lang")
      .join(broadcast(dim), "lang")
      .groupBy(col("weight")).agg(count(lit(1)).as("n"))
    val q = joined.writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    stream.addData(Seq(4L -> "fr", 5L -> "de")) // de: no dim row → dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 2L, 20L -> 2L))
  }

  test("partitioned dataset sink routes by (doc_type_dir, is_valid)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val results = ExtractionPipeline.run(Synthesizer.docs(spark, 200, 42L))
    Sink.write(results, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 200)
    // physical layout: one directory per (type, validity) — the
    // dataset_builder.py routing contract
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("doc_type_dir=")))
    val aadDir = new java.io.File(s"$dir/doc_type_dir=aadhaar_card")
    assert(aadDir.exists())
    assert(aadDir.listFiles().map(_.getName).count(_.startsWith("is_valid=")) === 2)
  }

  test("Trigger.AvailableNow drains what's available then terminates; a " +
    "checkpointed restart processes ONLY rows added since — the batch " +
    "catch-up mode a scheduled 10^12-doc ingest runs instead of 24/7") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft_availnow").toString
    val ckpt = base + "/ckpt"
    val out = base + "/out"
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // file sink: the one sink class that supports checkpoint RECOVERY
    // (memory sink refuses a restart from an existing checkpoint)
    def run() = stream.toDS().toDF("id", "v")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val q1 = run()
    // AvailableNow self-terminates after draining — no stop() needed
    assert(q1.awaitTermination(60000), "query did not self-terminate")
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // rows added AFTER the first run; the restart resumes from the
    // checkpointed offset — the sink must grow by exactly these two rows
    // (a re-read of batch 1 would duplicate 1..3)
    stream.addData(Seq((4L, "d"), (5L, "e")))
    val q2 = run()
    assert(q2.awaitTermination(60000), "restart did not self-terminate")
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 4L, 5L))
  }
}
