package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.StorageOps

class StorageOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Reference byte models over the canonical (ok, ln, v) block order. */
  private def brute(rows: Seq[(Long, Long, String)], name: String,
                    blockRows: Int): (Long, Long, Long, Long, Long, Long, String) = {
    val blocked = rows.map { case (ok, ln, v) =>
      ((ok * 8 + ln) / blockRows, ok, ln, v)
    }
    val n = rows.size.toLong
    val nd = rows.map(_._3).distinct.size.toLong
    var runs = 0L
    var rleB = 0L
    blocked.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3, r._4))
      var prev: String = null
      sorted.foreach { r =>
        if (prev == null || prev != r._4) { runs += 1; rleB += r._4.length + 4 }
        prev = r._4
      }
    }
    val plain = rows.map(_._3.length.toLong).sum
    val bits = java.lang.Long.toBinaryString(math.max(nd - 1, 1)).length.toLong
    val dict = (n * bits + 7) / 8 + rows.map(_._3).distinct.map(_.length.toLong).sum
    val advice = if (dict <= plain && dict <= rleB) "dict"
      else if (plain <= rleB) "plain" else "rle"
    (n, nd, runs, plain, rleB, dict, advice)
  }

  private def liDf(rows: Seq[(Long, Long, String, String, Long, String)]) =
    rows.toDF("l_orderkey", "l_linenumber", "l_returnflag",
      "l_linestatus", "l_quantity", "l_shipdate")

  test("encoding advisor: byte models match the reference and each " +
    "planted column wins its natural encoding; layout-invariant") {
    // returnflag: two long-string values in two giant runs → RLE wins
    // linestatus: tiny alphabet scattered → DICT wins
    // quantity: all distinct short values → PLAIN wins (dict overhead)
    val rows = (0L until 400L).map { i =>
      val rf = if (i < 200) "AAAAAAAAAAAAAAAAAAAA" else "BBBBBBBBBBBBBBBBBBBB"
      val ls = if (i % 3 == 0) "O" else "F"
      (i / 4, i % 4, rf, ls, 100L + i, "2024-01-0" + (i % 9 + 1))
    }
    val df = liDf(rows)
    val got = StorageOps.encodingAdvisor(df)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))))
      .toMap
    val base = rows.map(r => (r._1, r._2))
    def colRows(f: ((Long, Long, String, String, Long, String)) => String) =
      rows.map(r => (r._1, r._2, f(r)))
    assert(got("returnflag") === brute(colRows(_._3), "returnflag", 4096))
    assert(got("linestatus") === brute(colRows(_._4), "linestatus", 4096))
    assert(got("quantity") === brute(colRows(_._5.toString), "quantity", 4096))
    assert(got("returnflag")._7 === "rle")
    assert(got("linestatus")._7 === "dict")
    assert(got("quantity")._7 === "plain")
    val got2 = StorageOps.encodingAdvisor(df.repartition(7))
      .collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got2 === got.map { case (k, v) => k -> v._3 })
  }
}
