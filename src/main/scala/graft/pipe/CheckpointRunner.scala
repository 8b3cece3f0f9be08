package graft.pipe

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Doc, DocResult}

/** Checkpoint-resumable execution (SURVEY.md §7.4). The doc table is hashed
  * into `buckets` doc_id buckets (the Iceberg `bucket(N, doc_id)` emulation
  * on plain Parquet); buckets are processed in `groups` sequential jobs,
  * each writing its output slice plus a manifest entry and a lineage row.
  * A restart skips every bucket group the manifest records as complete, so
  * a killed job resumes where it stopped and produces byte-identical
  * output (PipelineSparkSpec proves this).
  *
  * Reference analogue: Celery task states PENDING→PROCESSING→SUCCESS in
  * Redis (`app/tasks.py:32,40,50`) — here the "queue" is the bucket list
  * and the "result backend" is the output table + manifest.
  *
  * The fused single-job path (ExtractionPipeline.run) stays the fast path;
  * checkpointing trades one extra scan per group for restartability — at
  * 10^12 docs a group is still millions of docs, so job-submit overhead
  * amortizes to noise.
  */
final class CheckpointRunner(outDir: String, buckets: Int = 32, groups: Int = 4) {
  require(buckets % groups == 0, "groups must divide buckets")
  private val manifestPath = Paths.get(outDir, "_graft_manifest.txt")
  private val lineagePath = s"$outDir/lineage"
  private val resultPath = s"$outDir/results"
  /** JSON-lines run log (utils/logger.py analogue). */
  val runLog = new RunLog(s"$outDir/logs/run.jsonl")

  def completedGroups(): Set[Int] =
    if (Files.exists(manifestPath))
      Files.readAllLines(manifestPath).asScala.filter(_.nonEmpty).map(_.toInt).toSet
    else Set.empty

  private def markComplete(g: Int): Unit = {
    Files.createDirectories(manifestPath.getParent)
    Files.writeString(manifestPath, s"$g\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Runs (or resumes) the pipeline. `failAfterGroups` injects a crash for
    * the resume test. Returns the number of groups executed this run. */
  def run(docs: Dataset[Doc], failAfterGroups: Int = Int.MaxValue): Int = {
    val spark = docs.sparkSession
    import spark.implicits._
    val done = completedGroups()
    val perGroup = buckets / groups
    var executed = 0
    runLog.info("run started", "buckets" -> buckets, "groups" -> groups,
      "resumed_groups" -> done.size)

    (0 until groups).foreach { g =>
      if (!done.contains(g)) {
        if (executed >= failAfterGroups) {
          runLog.error("injected failure", "group" -> g)
          throw new RuntimeException(s"injected failure before group $g")
        }
        val t0 = System.nanoTime()
        val lo = g * perGroup
        val hi = lo + perGroup
        val nBuckets = buckets // local copy — the closure must not capture `this`
        val slice = docs.filter(d => {
          val b = math.floorMod(graft.io.Corpus.hash(d.doc_id).toInt, nBuckets)
          b >= lo && b < hi
        })
        val results = ExtractionPipeline.run(slice)
        results.write.mode(SaveMode.Overwrite).parquet(s"$resultPath/group=$g")

        // lineage row per bucket group (north_star metrics contract)
        val stats = spark.read.parquet(s"$resultPath/group=$g")
          .agg(count(lit(1)), sum(size(col("spans"))),
            avg(col("ocr_accuracy_score")),
            sum(when(col("is_valid"), 0L).otherwise(1L)))
          .collect()(0)
        val wallMs = (System.nanoTime() - t0) / 1000000
        Seq(graft.model.LineageRow("extract", g,
            stats.getLong(0),
            if (stats.isNullAt(1)) 0L else stats.getLong(1),
            if (stats.isNullAt(2)) 0.0 else stats.getDouble(2),
            if (stats.isNullAt(3)) 0L else stats.getLong(3), wallMs))
          .toDS().write.mode(SaveMode.Append).parquet(lineagePath)

        markComplete(g)
        runLog.info("group complete", "group" -> g,
          "docs" -> stats.getLong(0),
          "spans" -> (if (stats.isNullAt(1)) 0L else stats.getLong(1)),
          "invalid" -> (if (stats.isNullAt(3)) 0L else stats.getLong(3)),
          "wall_ms" -> wallMs)
        executed += 1
      }
    }
    runLog.info("run finished", "executed_groups" -> executed)
    executed
  }

  /** The output of every group the manifest records as complete. The
    * directories are named one by one: a `group=*` glob makes Spark probe
    * the literal pattern for a streaming-sink metadata directory, which
    * logs a FileNotFoundException. */
  def results(spark: SparkSession): Dataset[DocResult] = {
    import spark.implicits._
    spark.read.parquet(completedGroups().toSeq.sorted
      .map(g => s"$resultPath/group=$g"): _*).as[DocResult]
  }

  def lineage(spark: SparkSession): Dataset[graft.model.LineageRow] = {
    import spark.implicits._
    spark.read.parquet(lineagePath).as[graft.model.LineageRow]
  }
}
