package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The measured JVM. `run.py` launches it once per benchmark run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --scratch <dir> --fixtures <dir> --out <file>
  *        [--tables <dir>]
  *
  * Everything runs in this one process as a closed loop with one client:
  * the next batch or query is submitted only after the previous one has
  * completed. It writes one JSON object to `--out`: the run's timings,
  * check outcomes, per-layer metrics (traced runs) and the JVM's own
  * provenance. `run.py` turns that into the benchmark's result line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, scratch: String,
                        fixtures: String, out: String, tables: String)

  /** The configuration of `graft.Bench`'s session, with Spark's scratch
    * space moved into the run's own directory. */
  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "131072")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("cores").toInt, o("scratch"), o("fixtures"),
      o("out"), o.getOrElse("tables", ""))
    val spark = session(a.cores, a.scratch)
    val result =
      try a.workload match {
        case "extract_plain" => new Extract(spark, a).run()
        case "curation_queries" => new Curation(spark, a).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    val json = Json.render(result ++ Map("jvm" -> provenance(spark.version)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json)
  }

  /** What this JVM actually ran with, so numbers from boxes or flag sets
    * that differ are never compared by accident. */
  def provenance(sparkVersion: String): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(f =>
        f.startsWith("-Xm") || f.startsWith("-XX:")).toSeq
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getName).toSeq
    Map("java_version" -> System.getProperty("java.version"),
      "spark_version" -> sparkVersion,
      "jvm_flags" -> flags,
      "gc" -> gcs,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
  }

  /** Resets the kernel's peak resident set (VmHWM) to the current one, so
    * `peakRssMb` covers only what runs after this call: the timed loop,
    * not set-up. */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => }

  /** VmHWM of this process, in MB (the kernel's peak resident set). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    }
  }

  def nanosSince(t0: Long): Long = System.nanoTime() - t0

  /** Milliseconds this JVM has spent in GC so far, all collectors. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Nearest-rank percentile (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
    }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
