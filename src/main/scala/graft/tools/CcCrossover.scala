package graft.tools

import graft.ops.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

/** Times the two connected-components labellings behind
  * `DedupOps.dupClusters` — the driver union-find and the
  * large-star/small-star loop — on synthetic pair graphs of growing size,
  * to place the edge-count cutoff between them
  * (`DedupOps.DriverCcEdgeLimit`).
  *
  * Shapes: `clusters` — components of 5 docs joined by a 4-edge path (the
  * near-dup shape); `random` — E uniform random edges over E docs (a giant
  * component, the loop's slow case). The session is the benchmark's:
  * local[cores], shuffle partitions = cores, AQE on.
  *
  *   sbt "runMain graft.tools.CcCrossover 4 1000,10000,100000 3"
  *
  * One line per (shape, edges): the median wall ms of `reps` runs of each
  * kernel, its output written to the noop sink; for the driver kernel also
  * the bytes its calling thread allocated and the size of the rows its
  * result holds on the driver. */
object CcCrossover {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(4)
    val sizes = args.lift(1).map(_.split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(1000L, 10000L, 100000L))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def ms[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e6)
    }
    def graph(shape: String, e: Long): DataFrame = shape match {
      case "clusters" => s.range(e).select(
        (col("id") / 4).cast("long") * 5 + col("id") % 4 as "doc_a",
        (col("id") / 4).cast("long") * 5 + col("id") % 4 + 1 as "doc_b")
      case _ => s.range(e).select(
        pmod(xxhash64(col("id"), lit(1)), lit(e)) as "doc_a",
        pmod(xxhash64(col("id"), lit(2)), lit(e)) as "doc_b")
    }
    val tid = Thread.currentThread.getId
    for (shape <- Seq("clusters", "random"); e <- sizes) {
      val (edges, sig) = DedupOps.canonicalEdges(graph(shape, e))
      val driver = (0 until reps).map { _ =>
        val a0 = mx.getThreadAllocatedBytes(tid)
        val (out, t) = ms { val o = DedupOps.labelOnDriver(edges); sink(o); o }
        val alloc = mx.getThreadAllocatedBytes(tid) - a0
        val held = out.queryExecution.logical.collect {
          case l: LocalRelation => SizeEstimator.estimate(l.data)
        }.sum
        (t, alloc, held)
      }
      val stars = (0 until reps).map(_ =>
        ms(sink(DedupOps.labelByStars(edges, sig, 25)))._2)
      println(f"$shape%-8s edges=${sig._1}%9d " +
        f"driver_ms=${median(driver.map(_._1))}%9.1f " +
        f"stars_ms=${median(stars)}%9.1f " +
        f"driver_alloc_mb=${median(driver.map(_._2 / 1e6))}%8.1f " +
        f"driver_held_mb=${median(driver.map(_._3 / 1e6))}%8.1f")
    }
    s.stop()
  }
}
