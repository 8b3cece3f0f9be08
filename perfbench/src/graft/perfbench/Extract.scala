package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.classify.DocTypeClassifier
import graft.extract._
import graft.html.BoilerplateStrip
import graft.io.Synthesizer
import graft.kernel.Backends
import graft.model.{Doc, DocResult, JValue, PyDict}
import graft.pipe.{ExtractionPipeline, Sink}
import graft.text.PyText
import graft.validate.Validator
import Main.{gcMs, median, nanosSince, percentile}

/** The `extract_plain` workload.
  *
  * Set-up writes `Batches` parquet batch tables of `BatchDocs` synthesized
  * docs each (`Synthesizer.genDoc` under the run's seed, the generator
  * `Synthesizer.docs` maps over), checks the pipeline against the
  * committed seed-42 golden (and, traced, the Donut golden) and warms up with
  * `WarmBatches` batches, then collects the heap so each run starts
  * measuring from the same state. The timed loop then runs one
  * `ExtractionPipeline.run` per batch to the `noop` sink, cycling over the
  * batch tables.
  *
  * Every batch is checked while it runs, through an `Observation` on the
  * pipeline's output: one row per input doc, the same doc_id set
  * (count plus two order-free hashes) and span offsets 0..n-1 in order.
  *
  * The traced run also prices the layers only the sink path uses: the
  * Donut fallback (single-thread) and `Sink.write` (differencing).
  */
final class Extract(spark: SparkSession, a: Main.Args) {
  import spark.implicits._

  private val BatchDocs = 16384L
  private val Batches = 4
  private val WarmBatches = 14
  private val sc = spark.sparkContext
  private val root = s"${a.scratch}/extract"

  private final case class Fingerprint(n: Long, x: Long, s: Long)

  private def batchPath(b: Int): String = s"$root/docs/batch=$b"

  private def fingerprintCols: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    bit_xor(xxhash64(col("doc_id"))).as("x"),
    sum(pmod(xxhash64(col("doc_id"), lit("s")), lit(2147483647L))).as("s"))

  /** One job writes every batch table (task p of `files * Batches` range
    * partitions holds a contiguous doc range and writes batch p / files);
    * one more fingerprints them. */
  private def materialise(): IndexedSeq[Fingerprint] = {
    val seed = a.seed
    val files = a.cores * 2
    spark.range(0, Batches * BatchDocs, 1, Batches * files)
      .map(n => Synthesizer.genDoc(seed, n))
      .withColumn("batch", (spark_partition_id() / files).cast("int"))
      .write.partitionBy("batch").parquet(s"$root/docs")
    val fps = spark.read.parquet(s"$root/docs").groupBy(col("batch"))
      .agg(fingerprintCols.head, fingerprintCols.tail: _*).collect()
      .map(r => r.getInt(0) -> Fingerprint(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    (0 until Batches).map(fps)
  }

  private def docs(b: Int): Dataset[Doc] = spark.read.parquet(batchPath(b)).as[Doc]

  /** Rows of `SparkEntry.goldenResult` over the seed-42 2000-doc table that
    * differ from the committed reference golden, both directions. */
  private def goldenMismatches(donut: Boolean): Long = {
    val ours = SparkEntry.goldenResult(
      ExtractionPipeline.run(Synthesizer.docs(spark, 2000L, 42L), useDonut = donut).toDF())
    val suffix = if (donut) "_donut" else ""
    val golden = spark.read.parquet(s"${a.fixtures}/golden_extract${suffix}_2000.parquet")
      .select(ours.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    ours.exceptAll(golden).count() + golden.exceptAll(ours).count()
  }

  private final case class Outcome(ns: Long, ok: Boolean)

  /** One pipeline batch, checked. Only the read → pipeline → noop call is
    * timed (and, when `tag` is set, traced as op `tag`). */
  private def batch(b: Int, i: Int, fp: Fingerprint, tag: String = null,
                    spans: Spans = null): Outcome = {
    val obs = Observation(s"batch$i")
    def call(): Unit =
      ExtractionPipeline.run(docs(b)).observe(obs,
        fingerprintCols.head, fingerprintCols.tail :+
          sum(when(expr("forall(transform(spans, (s, i) -> s.offset = i), o -> o)"), 0L)
            .otherwise(1L)).as("bad_offsets"): _*)
        .toDF().write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    try {
      if (tag == null) call()
      else OpListener.withOp(sc, tag)(spans.time("pipe.batch")(call()))
      val ns = nanosSince(t0)
      val m = obs.get
      Outcome(ns, m("n") == fp.n && m("x") == fp.x && m("s") == fp.s &&
        m("bad_offsets") == 0L)
    } catch {
      case e: Exception =>
        System.err.println(s"batch $i failed: $e")
        Outcome(nanosSince(t0), ok = false)
    }
  }

  def run(): Map[String, Any] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.currentTimeMillis()
    // set-up only: the golden check's first-run compilation overlaps the
    // materialising job's instead of queueing behind it
    val golden = Future(goldenMismatches(donut = false) +
      (if (a.trace) goldenMismatches(donut = true) else 0L))(ExecutionContext.global)
    val fps = materialise()
    val t1 = System.currentTimeMillis()
    val mismatches = Await.result(golden, Duration.Inf)
    val t2 = System.currentTimeMillis()
    val warm = (0 until WarmBatches).map(i => batch(i % Batches, -1 - i, fps(i % Batches)))
    val setupOk = mismatches == 0 && warm.forall(_.ok)
    System.gc() // every run starts measuring from the same, empty heap
    Main.resetPeakRss()
    val firstOpMs = System.currentTimeMillis()
    (if (a.trace) traced(fps, mismatches, setupOk, firstOpMs)
     else timed(fps, mismatches, setupOk, firstOpMs)) ++
      Map("warm_latencies_s" -> warm.map(_.ns / 1e9),
        "setup_phases_ms" -> Map("jvm_start" -> Main.jvmStartMs, "session" -> t0,
          "materialised" -> t1, "golden" -> t2, "warm" -> firstOpMs))
  }

  private def timed(fps: IndexedSeq[Fingerprint], golden: Long, setupOk: Boolean,
                    firstOpMs: Long): Map[String, Any] = {
    val outcomes = ArrayBuffer.empty[Outcome]
    var timedNs = 0L
    while (timedNs < a.seconds * 1e9) {
      val i = outcomes.length
      val o = batch(i % Batches, i, fps(i % Batches))
      outcomes += o
      timedNs += o.ns
    }
    val peakRss = Main.peakRssMb
    val lat = outcomes.map(_.ns / 1e9).toSeq
    val passes = lat.grouped(Batches).filter(_.length == Batches).map(_.sum).toSeq
    Map("first_op_ms" -> firstOpMs, "golden_mismatches" -> golden,
      "setup_ok" -> setupOk, "attempted" -> outcomes.length,
      "failed" -> outcomes.count(!_.ok),
      "docs" -> outcomes.length * BatchDocs,
      "timed_s" -> timedNs / 1e9,
      "latencies_s" -> lat,
      "e2e" -> Map(
        "op_s_p50" -> median(lat), "op_s_p90" -> percentile(lat, 90),
        "sweep_s" -> median(passes),
        "docs_per_s" -> outcomes.length * BatchDocs / (timedNs / 1e9),
        "peak_rss_mb" -> peakRss))
  }

  // ---------------------------------------------------------------- traced

  private def traced(fps: IndexedSeq[Fingerprint], golden: Long, setupOk: Boolean,
                     firstOpMs: Long): Map[String, Any] = {
    val spans = new Spans
    val listener = new OpListener(sc)
    val outcomes = ArrayBuffer.empty[Outcome]
    var plainNs = 0L
    var tracedNs = 0L
    var gc = 0L
    val tracedOps = ArrayBuffer.empty[String]
    // Alternate untraced and traced passes so drift hits both alike.
    for (_ <- 0 until 2) {
      for (b <- 0 until Batches) {
        val o = batch(b, outcomes.length, fps(b)); outcomes += o; plainNs += o.ns
      }
      sc.addSparkListener(listener)
      val gc0 = gcMs
      for (b <- 0 until Batches) {
        val tag = s"batch:${outcomes.length}"
        val o = batch(b, outcomes.length, fps(b), tag, spans)
        outcomes += o; tracedNs += o.ns; tracedOps += tag
      }
      gc += gcMs - gc0
      listener.drain()
      sc.removeSparkListener(listener)
    }
    val stats = tracedOps.map(listener.stats).toSeq
    val tracedDocs = stats.length.toDouble * BatchDocs
    val shuffleBytes = stats.map(_.shuffleWriteBytes).sum

    val layers = singleThread(spans)
    val stages = differencing()
    val threadSum = layers("single_thread_ns_per_doc")
    val spanFile = s"${a.scratch}/spans.jsonl"
    spans.write(spanFile)

    val perLayer = layers - "single_thread_ns_per_doc" ++ stages ++
      OpListener.sparkMetrics(stats, gc, tracedNs, a.cores) ++ Map(
      "pipe.per_core_slowdown" ->
        (if (threadSum > 0) stats.map(_.cpuNs).sum / tracedDocs / threadSum else 0.0),
      "trace.overhead_frac" -> (1.0 - plainNs.toDouble / tracedNs))
    Map("first_op_ms" -> firstOpMs, "golden_mismatches" -> golden,
      "setup_ok" -> (setupOk && layers("replay_mismatches") == 0.0),
      "attempted" -> outcomes.length, "failed" -> outcomes.count(!_.ok),
      "zero_shuffle" -> (shuffleBytes == 0L),
      "span_file" -> spanFile,
      "per_layer" -> (perLayer - "replay_mismatches"))
  }

  /** Wall ns per doc at local[cores] of nested plans over the same
    * batches: the parquet scan alone, + `ocrStage` (which decodes `Doc`s),
    * full `run` → noop, and the
    * sink path's `run(useDonut = true)` → noop and → `Sink.write`.
    * Differences price each stage; each figure is the median of three
    * passes over two batches. */
  private def differencing(): Map[String, Any] = {
    val bs = 0 until 2
    val docsN = bs.length * BatchDocs.toDouble
    // only `f` is timed; `after` (the benchmark's own clean-up) is not
    def perDoc(f: Int => Unit, after: () => Unit = () => ()): Double =
      median((0 until 3).map { _ =>
        bs.map { b => val t0 = System.nanoTime(); f(b); val ns = nanosSince(t0); after(); ns }
          .sum / docsN
      })
    val scan = perDoc(b => docs(b).toDF().write.format("noop").mode("overwrite").save())
    val ocr = perDoc(b => ExtractionPipeline.ocrStage(docs(b)).toDF()
      .write.format("noop").mode("overwrite").save())
    val full = perDoc(b => ExtractionPipeline.run(docs(b)).toDF()
      .write.format("noop").mode("overwrite").save())
    val donut = perDoc(b => ExtractionPipeline.run(docs(b), useDonut = true).toDF()
      .write.format("noop").mode("overwrite").save())
    var sinkBytes = 0L
    var sinkFiles = 0L
    val out = new java.io.File(s"$root/diff_sink")
    val sink = perDoc(
      b => Sink.write(ExtractionPipeline.run(docs(b), useDonut = true), out.getPath),
      () => {
        val files = listFiles(out).filter(f => f.getName.endsWith(".parquet"))
        sinkBytes += files.map(_.length).sum
        sinkFiles += files.length
        Main.deleteTree(out)
      })
    val sinkWrites = 3.0 * bs.length
    Map("io.scan_ns_per_doc" -> scan,
      "pipe.ocr_stage_ns_per_doc" -> (ocr - scan),
      "pipe.extract_stage_ns_per_doc" -> (full - ocr),
      "pipe.sink_ns_per_doc" -> (sink - donut),
      "pipe.sink_bytes_per_doc" -> sinkBytes / (sinkWrites * BatchDocs),
      "pipe.sink_files_per_batch" -> sinkFiles / sinkWrites)
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else Seq(f)

  private val extractors: Map[String, (String, Seq[String]) => PyDict] = Map(
    "Aadhaar Card" -> AadhaarExtractor.extract,
    "PAN Card" -> PanExtractor.extract,
    "Marksheet" -> MarksheetExtractor.extract,
    "driving_license" -> DlExtractor.extract,
    "Driving License" -> DrivingLicenseExtractor.extract,
    "passport" -> PassportExtractor.extract)

  /** Single-thread pass over a sample of the workload's docs. The real
    * `ExtractionPipeline.ocrDoc` and `extractDoc` calls are the parent
    * spans; their layers are timed by calling each public layer function
    * again on the same input (the extractor is the one routing picked),
    * and the replayed record JSON must equal the pipeline's. The Donut
    * backend is called, as a root span, on the docs the sink path's
    * fallback would send it. Each metric is the median over three passes. */
  private def singleThread(spans: Spans): Map[String, Double] = {
    val sample = docs(0).limit(2048).collect()
    val backend = Backends.ocr("deterministic")
    val donut = Backends.donut("deterministic")
    val donutFn = () => donut
    val passes = (0 until 3).map { _ =>
      val from = spans.size
      var textSpans, mediaSpans, decoded, kept, unknown = 0L
      var donutCalls, rescues, mismatches = 0L
      sample.foreach { d =>
        val t0 = System.nanoTime()
        val o = ExtractionPipeline.ocrDoc(d, backend)
        val pOcr = spans.add("pipe.ocr_doc", -1, t0, System.nanoTime())
        d.spans.foreach { s =>
          if (s.kind == "text") {
            textSpans += 1
            spans.time("html.strip", pOcr)(BoilerplateStrip.lines(s.text))
          } else if (s.kind == "media") {
            mediaSpans += 1
            try {
              val (ls, cs, _) = spans.time("kernel.ocr", pOcr)(backend.decode(s.media_ref))
              decoded += ls.length
              kept += ls.indices.count(i => i >= cs.length || cs(i) >= 0.8)
            } catch { case _: Exception => }
          }
        }
        val t1 = System.nanoTime()
        val r: DocResult = ExtractionPipeline.extractDoc(o, useDonut = false, donutFn)
        val pEx = spans.add("pipe.extract_doc", -1, t1, System.nanoTime())
        val pRoute = spans.open("classify.route", pEx)
        val routed = DocTypeClassifier.extractWithRouting(o.raw_text, o.lines)
        spans.close(pRoute)
        val docType = routed.get("document_type").map(_.toString).getOrElse("Unknown")
        extractors.get(docType).foreach(f =>
          spans.time("extract.field", pRoute)(f(o.raw_text, o.lines)))
        if (docType == "Unknown") unknown += 1
        if (docType == "Unknown" && o.media_refs.nonEmpty) {
          donutCalls += 1
          val dd = spans.time("kernel.donut")(donut.process(o.media_refs.head))
          // a rescue: mergeDonut would fill at least one absent or falsy key
          if (dd.contains("document_type") && dd.fields.exists { case (k, v) =>
                !v.isFalsy && (!routed.contains(k) || PyDict.isFalsy(routed(k))) })
            rescues += 1
        }
        // the three metadata writes extractDoc makes before validating
        if (routed.get("document_type").contains("Unknown") && o.raw_text.nonEmpty)
          routed("raw_text") = o.raw_text
        routed("face_image") = o.face_b64
        routed("ocr_accuracy_score") = PyText.round2(o.avg_conf * 100)
        val j = routed.toJ
        val (_, record, _) = spans.time("validate", pEx)(Validator.validateDocument(j))
        val json = spans.time("model.json", pEx)(JValue.toJson(record))
        if (json != r.record_json) mismatches += 1
      }
      val n = sample.length.toDouble
      Map[String, Double](
        "html.strip_ns_per_doc" -> spans.total("html.strip", from) / n,
        "html.text_spans_per_doc" -> textSpans / n,
        "kernel.ocr_ns_per_doc" -> spans.total("kernel.ocr", from) / n,
        "kernel.media_spans_per_doc" -> mediaSpans / n,
        "kernel.lines_kept_frac" -> (if (decoded > 0) kept.toDouble / decoded else 0.0),
        "pipe.ocr_doc_self_ns_per_doc" -> spans.selfTotal("pipe.ocr_doc", from) / n,
        "classify.self_ns_per_doc" -> spans.selfTotal("classify.route", from) / n,
        "classify.unknown_frac" -> unknown / n,
        "extract.ns_per_doc" -> spans.total("extract.field", from) / n,
        "validate.ns_per_doc" -> spans.total("validate", from) / n,
        "model.json_ns_per_doc" -> spans.total("model.json", from) / n,
        "pipe.extract_doc_self_ns_per_doc" -> spans.selfTotal("pipe.extract_doc", from) / n,
        "kernel.donut_ns_per_call" ->
          (if (donutCalls > 0) spans.total("kernel.donut", from).toDouble / donutCalls else 0.0),
        "kernel.donut_calls_per_doc" -> donutCalls / n,
        "classify.donut_rescue_frac" ->
          (if (donutCalls > 0) rescues.toDouble / donutCalls else 0.0),
        "single_thread_ns_per_doc" ->
          (spans.total("pipe.ocr_doc", from) + spans.total("pipe.extract_doc", from)) / n,
        "replay_mismatches" -> mismatches.toDouble)
    }
    passes.head.keys.map(k => k -> median(passes.map(_(k)))).toMap
  }
}
