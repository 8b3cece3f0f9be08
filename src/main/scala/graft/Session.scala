package graft

import org.apache.spark.sql.SparkSession

/** The session configuration `graft.Bench` times the queries and the
  * pipeline under, in one place for every other main and for the specs.
  * `Bench.newSession` and `Verify` keep their own builders (they are the
  * frozen measurement and correctness harness); `HarnessSpec` pins
  * [[settings]] to `Bench.newSession`'s `.config` lines. */
object Session {
  /** `Bench.newSession`'s `.config` pairs at `threads` local threads. */
  def settings(threads: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> threads.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC", // NTZ↔epoch reinterpretation (q24)
    // sandbox tables are tiny (MBs); the default 128 MB maxPartitionBytes
    // bin-packs them into ~4 splits and caps scan parallelism at 4 tasks
    // regardless of cores
    "spark.sql.files.maxPartitionBytes" -> "131072",
    "spark.sql.files.openCostInBytes" -> "65536",
    "spark.ui.enabled" -> "false")

  /** A session with [[settings]] and Bench's WARN log level, on
    * `local[threads]` — or on spark-submit's `--master` when one was given
    * (`graft.tools.ClusterBench` runs on `local-cluster`). */
  def local(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$threads]"))
      .config(settings(threads).toMap).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
