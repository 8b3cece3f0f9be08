package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.CoresetOps

class CoresetOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Reference greedy facility location over quantized integer dots. */
  private def bruteGreedy(vecs: Seq[(Long, Seq[Float])], k: Int,
                          coverageMod: Int)
    : Seq[(Long, Long, Long, Long)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000).toLong)
    }
    val cover = q.filter(_._1 % coverageMod == 0)
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    var best = cover.map(_._1 -> 0L).toMap
    var picked = Set.empty[Long]
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (step <- 1 to k) {
      val (sel, gain) = q.filterNot(c => picked(c._1))
        .map { case (id, v) =>
          id -> cover.map { case (j, vj) =>
            math.max(dot(v, vj) - best(j), 0L)
          }.sum
        }
        .minBy { case (id, g) => (-g, id) }
      picked += sel
      val selVec = q.find(_._1 == sel).get._2
      best = cover.map { case (j, vj) =>
        j -> math.max(best(j), dot(selVec, vj))
      }.toMap
      out += ((step.toLong, sel, gain, best.values.sum))
    }
    out.toSeq
  }

  private def embDf(vecs: Seq[(Long, Seq[Float])]) =
    vecs.toDF("vec_id", "embedding")

  test("facility location matches the reference greedy loop on seeded " +
    "vectors and is layout-invariant") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    val expected = bruteGreedy(vecs, k = 8, coverageMod = 2)
    val got = CoresetOps.facilityLocation(embDf(vecs))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    val got2 = CoresetOps.facilityLocation(embDf(vecs).repartition(7))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got2 === expected)
  }

  test("facility location picks the cluster center first and diminishing " +
    "returns hold (submodularity)") {
    // a dense cluster around +e0 whose center is vec 10, plus scattered
    // orthogonal-ish points: greedy must open the cluster facility first
    val cluster = (0L until 10L).map(i =>
      i -> Seq(0.9f, 0.05f * (i % 3), 0f, 0f))
    val center = Seq(10L -> Seq(1.0f, 0.05f, 0f, 0f))
    val stragglers = Seq(11L -> Seq(0f, 0.9f, 0f, 0f),
      12L -> Seq(0f, 0f, 0.9f, 0f))
    val vecs = cluster ++ center ++ stragglers
    val got = CoresetOps.facilityLocation(embDf(vecs))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.head._2 === 10L)
    // marginal gains never increase (greedy on a submodular objective)
    assert(got.map(_._3) === got.map(_._3).sorted.reverse)
    // objective is the running sum of gains
    assert(got.map(_._3).sum === got.last._4)
    assert(got === bruteGreedy(vecs, k = 8, coverageMod = 2))
  }

  test("facility location with k > candidate count stops cleanly after " +
    "exhausting candidates (no empty.maxBy crash)") {
    val vecs = Seq(
      1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.0f, 1.0f), 3L -> Seq(1.0f, 1.0f))
    val got = CoresetOps.facilityLocation(embDf(vecs))
      .collect()
    // exactly the 3 candidates picked, steps 1..3, then the greedy halts
    assert(got.length === 3)
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(got.map(_.getLong(1)).toSet === Set(1L, 2L, 3L))
  }
}
