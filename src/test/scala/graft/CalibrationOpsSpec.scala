package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.CalibrationOps

class CalibrationOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Closed-form minimax isotonic fit (the oracle's formulation,
    * independently re-implemented): value(i) = max_{j≤i} min_{k≥i}
    * rate(j..k), exact rational compare. */
  private def minimax(binsNP: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val m = binsNP.length
    def seg(j: Int, k: Int): (Long, Long) = {
      val s = binsNP.slice(j, k + 1)
      (s.map(_._2).sum, s.map(_._1).sum) // (p, n)
    }
    // BigInt cross-product — same overflow-proofing as the engine's PAV
    // loop (per-block counts beyond ~3e9 overflow a Long product)
    def lt(a: (Long, Long), b: (Long, Long)) =
      BigInt(a._1) * b._2 < BigInt(b._1) * a._2
    (0 until m).map { i =>
      val best = (0 to i).map { j =>
        (i until m).map(k => seg(j, k)).reduce((a, b) => if (lt(a, b)) a else b)
      }.reduce((a, b) => if (lt(a, b)) b else a)
      val g = BigInt(best._1).gcd(BigInt(best._2)).toLong max 1L
      (best._1 / g, best._2 / g)
    }
  }

  test("PAV equals the closed-form minimax fit, output is monotone, " +
    "pools real violations, and is layout-invariant") {
    val rnd = new scala.util.Random(13)
    // texts whose length bin and 'the'-presence are noisily correlated
    val docs = (0L until 300L).map { i =>
      val len = 48 + rnd.nextInt(460)
      val hasThe = rnd.nextInt(600) < len
      val filler = "x" * (len - (if (hasThe) 5 else 0))
      (i, if (hasThe) s"$filler the " else filler)
    }.toDF("doc_id", "text")
    val got = CalibrationOps.isotonicCalibration(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val expected = minimax(got.map(r => (r._2, r._3)))
    assert(got.map(r => (r._4, r._5)) === expected)
    // non-decreasing calibrated rates
    val rates = got.map(r => (r._4, r._5))
    rates.sliding(2).foreach {
      case Seq((n1, d1), (n2, d2)) => assert(n1 * d2 <= n2 * d1)
      case _ =>
    }
    // the raw rates must NOT be monotone (else PAV was vacuous)
    val raw = got.map(r => (r._3, r._2))
    assert(raw.sliding(2).exists {
      case Seq((p1, n1), (p2, n2)) => p1 * n2 > p2 * n1
      case _ => false
    })
    val got2 = CalibrationOps.isotonicCalibration(docs.repartition(7))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got2 === got)
  }

  test("already-isotonic input is returned unpooled; a single global " +
    "violation pools to one block") {
    val mono = Seq((0L, "aa"), (1L, "a" * 40 + " the "), (2L, "b" * 200),
      (3L, "c" * 200 + " the "), (4L, "d" * 460 + " the "))
      .toDF("doc_id", "text")
    val g1 = CalibrationOps.isotonicCalibration(mono)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    g1.map(r => (r._4, r._5)).sliding(2).foreach {
      case Seq((n1, d1), (n2, d2)) => assert(n1 * d2 <= n2 * d1)
      case _ =>
    }
    // every positive early, every negative late → everything pools
    val anti = ((0L until 10L).map(i => (i, "s" * 60 + " the ")) ++
      (10L until 20L).map(i => (i, "t" * 500)))
      .toDF("doc_id", "text")
    val g2 = CalibrationOps.isotonicCalibration(anti)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(g2.map(r => (r._4, r._5)).distinct.size === 1)
    assert(g2.head._4 === 1L && g2.head._5 === 2L) // 10/20 reduced
  }
}
