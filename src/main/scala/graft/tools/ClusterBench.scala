package graft.tools

import graft.pipe.ExtractionPipeline

/** Multi-JVM executor-topology bench phase (r4 "Next round" #6): launched
  * via spark-submit with `--master local-cluster[W,C,mem]` so the job runs
  * against W SEPARATE executor JVMs — real closure/row serialization and
  * the netty shuffle network path that local[N] thread mode
  * short-circuits (in local mode every "executor" shares the driver's
  * BlockManager, so thread-mode numbers structurally cannot surface
  * serialization bugs or network-shuffle cost). Measures the same
  * scan→extract→sink phase `Bench` times, with the same warmup-budget and
  * min-of-reps protocol, so the docs/s rows are directly comparable to
  * the thread-mode table in BASELINE.md.
  *
  * Two-cluster-size scaling evidence (north rule, N vs 4N executors):
  * run this twice on the SAME materialized input —
  * {{{
  * sbt -batch package
  * /opt/spark/bin/spark-submit --class graft.tools.ClusterBench \
  *   --master 'local-cluster[2,4,4096]' --driver-memory 4g \
  *   target/scala-2.13/donutpaddleocrextractionspark_2.13-0.1.0.jar
  * /opt/spark/bin/spark-submit --class graft.tools.ClusterBench \
  *   --master 'local-cluster[8,4,4096]' --driver-memory 4g \
  *   target/scala-2.13/donutpaddleocrextractionspark_2.13-0.1.0.jar
  * }}}
  * and report tp(8×4) / (4 · tp(2×4)). On a real cluster only --master
  * changes (the deployment contract BASELINE.md documents).
  */
object ClusterBench {
  def main(args: Array[String]): Unit = {
    val docs = args.lift(0).map(_.toLong).getOrElse(500000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val partitions = args.lift(2).map(_.toInt).getOrElse(128)
    val spark = graft.Session.local(partitions) // master comes from spark-submit
    import spark.implicits._
    // same count/partitions-keyed path as Bench → identical input files
    val path = s"/tmp/graft_bench_docs_${docs}_$partitions"
    graft.Bench.materializeDocs(spark, docs, partitions, path)
    def run(): Double = {
      val t0 = System.nanoTime()
      ExtractionPipeline.run(spark.read.parquet(path).as[graft.model.Doc])
        .toDF().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // fixed warmup WORK budget, not run count (BenchPhase convention)
    var warm = 0.0
    var n = 0
    while (warm < 20.0 && n < 10) { warm += run(); n += 1 }
    val best = (1 to reps).map(_ => run()).min
    val cores = spark.sparkContext.defaultParallelism
    println(f"""{"cluster_bench":true,"master":"${spark.sparkContext.master}","cores":$cores,"docs":$docs,"sec":$best%.3f,"docs_per_sec":${docs / best}%.0f}""")
    spark.stop()
  }
}
