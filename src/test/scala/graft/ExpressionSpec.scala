package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.functions.{functions => gf}

/** Custom Catalyst expressions: Column API, codegen execution, and parity
  * with the Scala reference implementations. */
class ExpressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("expression stays inside WholeStageCodegen") {
    // spark.range forces a real scan — a local Seq constant-folds to
    // LocalTableScan and shows no codegen span at all
    val plan = spark.range(10)
      .select(gf.nfc_normalize(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x"), col("id"))))
      .queryExecution.executedPlan.toString
    // "*(1)" is the WholeStageCodegen marker in the compact plan string
    assert(plan.trim.startsWith("*(1) Project [nfc_normalize("), plan)
  }

  test("cosine_sim is bit-identical to the zip_with/aggregate fold " +
    "(codegen and interpreted paths)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1),
        Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    Seq("true", "false").foreach { codegen =>
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val out = df.select(col("id"),
          gf.cosine_sim(col("a"), col("b")).as("native"),
          graft.ops.SimilarityOps.cosineHof(col("a"), col("b")).as("hof"))
          .collect()
        out.foreach { r =>
          // exact double equality: same FP accumulation order by design
          assert(r.getDouble(1) === r.getDouble(2),
            s"id=${r.getLong(0)} codegen=$codegen")
        }
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("sign_lsh_bucket matches the per-bit when-chain fold bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val planes = graft.ops.SimilarityOps.hyperplanes(64, 8)
    val rng = new scala.util.Random(23)
    val df = (1 to 200).map(i => (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1)))
      .toDF("id", "emb")
    // the original column formulation: one interpreted zip_with/aggregate
    // per bit, summed as powers of two
    val chain = (0 until 8).map { b =>
      val dot = aggregate(
        zip_with(col("emb"), lit(planes(b)), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a + c)
    val out = df.select(
      gf.sign_lsh_bucket(col("emb"), planes).as("native"), chain.as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(out.map(_.getLong(0)).distinct.length > 10) // buckets actually vary
  }

  test("sign_lsh_bucket null semantics: length mismatch and null element → " +
    "null; structural equality over plane contents") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val planes = graft.ops.SimilarityOps.hyperplanes(4, 3)
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0)),           // shorter than planes
      (2L, Seq[java.lang.Double](1.0, null, 0.5, 2.0)), // null element
      (3L, Seq[java.lang.Double](1.0, 0.0, 0.5, 2.0))   // well-formed
    ).toDF("id", "emb")
    val out = df.select(col("id"), gf.sign_lsh_bucket(col("emb"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) && out(2L) && !out(3L))
    // structural equality: two expressions over equal-but-distinct plane
    // arrays must compare equal (canonicalization / exchange-reuse hinges
    // on it; case-class equality on Array fields is reference-based)
    // one shared child (Column→Expression conversion embeds a per-call-site
    // origin); equal-but-distinct plane arrays are what's under test here
    import org.apache.spark.sql.GraftColumnBridge.expression
    val child = expression(col("emb"))
    val p2 = planes.map(_.clone())
    val e1 = graft.functions.SignLshBucket(child, planes)
    val e2 = graft.functions.SignLshBucket(child, p2)
    assert(e1 === e2)
    assert(e1.hashCode === e2.hashCode)
    assert(e1 !== graft.functions.SignLshBucket(child,
      planes.map(_.map(_ + 1.0))))
  }

  test("deflate_len matches java.util.zip reference and separates " +
       "repetitive from varied text") {
    import spark.implicits._
    val rep = "spam spam spam " * 200
    val varied = (0 until 200).map(i => s"w${i * 7919 % 1000}").mkString(" ")
    val rows = Seq(("r", rep), ("v", varied), ("e", ""))
    val out = rows.toDF("k", "s")
      .select(col("k"), gf.deflate_len(col("s")).as("n"))
      .as[(String, Int)].collect().toMap
    def ref(s: String): Int = {
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    rows.foreach { case (k, s) => assert(out(k) === ref(s), k) }
    // repetitive text compresses an order of magnitude harder
    assert(out("r") * 10 < rep.length)
    assert(out("v") * 3 > varied.length)
    // null propagates
    val nulls = Seq((1, null: String)).toDF("k", "s")
      .select(gf.deflate_len(col("s"))).collect()
    assert(nulls(0).isNullAt(0))
  }

  test("common_prefix_len: byte loop matches the O(n²) substring fold, " +
      "null-propagates, stays in codegen") {
    import spark.implicits._
    val cases = Seq(
      ("banana", "bandana"), ("abc", "abc"), ("abc", "abd"),
      ("ab", "abc"), ("", "abc"), ("", ""), ("xyz", "abc"))
    val got = cases.toDF("a", "b")
      .select(gf.common_prefix_len(col("a"), col("b"))).as[Int].collect()
    val want = cases.map { case (a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    }
    assert(got.toSeq === want)
    // null propagation (BinaryExpression default)
    val n = Seq((Option("a"), Option.empty[String]))
      .toDF("a", "b")
      .select(gf.common_prefix_len(col("a"), col("b")).as("l"))
      .collect()(0)
    assert(n.isNullAt(0))
    val plan = spark.range(10)
      .select(gf.common_prefix_len(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("pfx"), col("id")),
        org.apache.spark.sql.functions.lit("pfx9")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"))
  }

  test("cosine_sim null semantics: length mismatch and null element → null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (3L, Seq[java.lang.Double](1.0, 0.0), Seq[java.lang.Double](1.0, 0.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), gf.cosine_sim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L) === None)
    assert(out(2L) === None)
    assert(out(3L) === Some(1.0))
  }

  test("nfc_normalize: decomposed folds to composed, already-NFC is " +
    "identity, null propagates, codegen path active") {
    import spark.implicits._
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301"
    assert(composed != decomposed) // different bytes...
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"),
      (4L, null: String)).toDF("id", "s")
    val out = df.select(col("id"), gf.nfc_normalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    assert(out(1L) === Some(composed)) // ...same canonical form
    assert(out(2L) === Some(composed))
    assert(out(3L) === Some("plain ascii"))
    assert(out(4L) === None)
    // stays inside whole-stage codegen (no fallback to interpreted eval;
    // a literal Seq would constant-fold to LocalTableScan, so drive the
    // expression over a Range source)
    val plan = spark.range(2).selectExpr("CAST(id AS STRING) AS s")
      .select(gf.nfc_normalize(col("s")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // * prefix = codegen stage
  }
}
