package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Corpus64, PrivacyOps}

class PrivacyOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tz(key: String): Long = {
    val h = Corpus64.md5Low64(key) & Long.MaxValue
    java.lang.Long.numberOfTrailingZeros(h).toLong
  }

  test("dp histogram: exact reference noise, empty domain cells " +
    "released, clamp is max(noisy, 0), layout-invariant") {
    // en×src1 planted empty: the full domain cross still releases it
    val docs = Seq(
      (1L, "t", "en", "src0"), (2L, "t", "en", "src0"),
      (3L, "t", "de", "src0"), (4L, "t", "de", "src1"),
      (5L, "t", "de", "src1"), (6L, "t", "de", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = PrivacyOps.dpHistogram(docs)
      .as[(String, String, Long, Long)].collect().toSeq
    val counts = Map(("en", "src0") -> 2L, ("de", "src0") -> 1L,
      ("de", "src1") -> 3L, ("en", "src1") -> 0L)
    val expected = counts.toSeq.map { case ((l, s), n) =>
      val noisy = n + tz(s"$l|$s|e1|a") - tz(s"$l|$s|e1|b")
      (l, s, noisy, math.max(noisy, 0L))
    }.sortBy(r => (r._1, r._2))
    assert(got === expected)
    assert(got.size === 4) // 2 langs × 2 sources, empty cell included
    assert(got.forall { case (_, _, noisy, rel) =>
      rel === math.max(noisy, 0L)
    })
    val got2 = PrivacyOps.dpHistogram(docs.repartition(5))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got2 === got)
  }

  test("dp noise: the geometric tails are sane over many cells") {
    val docs = (0L until 400L)
      .map(i => (i, "t", s"l${i % 20}", s"s${i % 20}"))
      .toDF("doc_id", "text", "lang", "source")
    val a = PrivacyOps.dpHistogram(docs)
      .as[(String, String, Long, Long)].collect()
    // noise = noisy − true; geometric(1/2) differences are mostly small:
    // |noise| ≤ 6 for ≳98% of cells in expectation; bound loosely
    val counts = docs.groupBy("lang", "source").count()
      .as[(String, String, Long)].collect()
      .map { case (l, s, n) => (l, s) -> n }.toMap
    val noises = a.map { case (l, s, noisy, _) =>
      noisy - counts.getOrElse((l, s), 0L)
    }
    assert(noises.count(n => math.abs(n) <= 6) >= (noises.length * 0.9).toInt)
    assert(math.abs(noises.sum.toDouble / noises.length) < 2.0)
  }
}
