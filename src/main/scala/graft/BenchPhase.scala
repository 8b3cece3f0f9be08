package graft

import graft.pipe.ExtractionPipeline

/** One benchmark phase in its own JVM (spawned by Bench under `taskset`):
  * a local[threads] session on a `threads`-core CPU mask is the closest
  * sandbox equivalent of an N-core cluster — GC threads, JIT compiler
  * threads and JVM ergonomics all size themselves to the mask. Prints the
  * best wall time over `reps` runs after one warmup. */
object BenchPhase {
  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val path = args(1)
    val reps = args(2).toInt
    val spark = Session.local(threads)
    import spark.implicits._
    def run(): Double = {
      val t0 = System.nanoTime()
      ExtractionPipeline.run(spark.read.parquet(path).as[graft.model.Doc])
        .toDF().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // fixed warmup WORK budget (not run count): JIT compilation progress is
    // proportional to executed work, so a cold 4N JVM needs as much total
    // warmup as a cold N JVM to reach the same compiled state
    var warm = 0.0
    var n = 0
    while (warm < 20.0 && n < 10) { warm += run(); n += 1 }
    val best = (1 to reps).map(_ => run()).min
    println(f"GRAFT_PHASE_SEC $best%.4f")
    spark.stop()

    // Pure-CPU envelope probe: `threads` spinners, FIXED work each — wall
    // time measures this VM's per-core speed at this active-core count
    // (cloud boxes throttle per-core throughput as cores activate; the
    // probe bounds the best possible N→4N scaling efficiency here).
    val work = 400000000L
    def spin(): Long = {
      var z = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < work) {
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        i += 1
      }
      z
    }
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { spin(): Unit }))
    ts.foreach(_.start()); ts.foreach(_.join())
    println(f"GRAFT_PHASE_CPU ${(System.nanoTime() - t0) / 1e9}%.4f")
  }
}
