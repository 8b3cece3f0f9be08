package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ClassifierOps, TextOps}

class ClassifierOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Reference batch perceptron with annealed (>> epoch−1) updates over
    * hashed char-3-gram counts. */
  private def bruteTrain(docs: Seq[(Long, String, String)], epochs: Int,
                         dims: Int, posLang: String)
    : Seq[(Long, Long, Long, Long)] = {
    val feats = docs.map { case (id, lang, text) =>
      val x = new Array[Long](dims)
      TextOps.kgramHashes(text, 3).foreach(h => x((h % dims).toInt) += 1L)
      (id, if (lang == posLang) 1L else -1L, x)
    }
    val w = new Array[Long](dims)
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (e <- 1 to epochs) {
      val mis = feats.filter { case (_, y, x) =>
        y * x.zip(w).map { case (a, b) => a * b }.sum <= 0
      }
      val dw = new Array[Long](dims)
      mis.foreach { case (_, y, x) =>
        (0 until dims).foreach(i => dw(i) += y * x(i))
      }
      var deltaAbs = 0L
      (0 until dims).foreach { i =>
        val step = dw(i) >> (e - 1)
        w(i) += step; deltaAbs += math.abs(step)
      }
      out += ((e.toLong, mis.size.toLong, deltaAbs,
        w.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum))
    }
    out.toSeq
  }

  test("perceptron training matches the reference loop exactly and is " +
    "layout-invariant") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val docs = (0L until 60L).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      val text = Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")
      (i, lang, text)
    }
    val df = docs.map { case (id, lang, t) => (id, t, lang) }
      .toDF("doc_id", "text", "lang")
    val expected = bruteTrain(docs, epochs = 8, dims = 256, posLang = "en")
    val got = ClassifierOps.perceptronTrain(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    val got2 = ClassifierOps.perceptronTrain(df.repartition(7))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got2 === expected)
  }

  test("perceptron drives error to zero on vocabulary-separated classes") {
    // disjoint vocabularies → linearly separable → batch perceptron with
    // annealed steps must reach n_mis = 0 and stay there
    val docs = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "qqq www eee qqq www", "en")
      else (i, "zzz xxx yyy zzz xxx", "de")
    }
    val df = docs.map { case (id, t, l) => (id, t, l) }
      .toDF("doc_id", "text", "lang")
    val got = ClassifierOps.perceptronTrain(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.last._2 === 0L)
    assert(got.map(_._2).takeRight(3).forall(_ === 0L))
    assert(got === bruteTrain(
      docs.map { case (id, t, l) => (id, l, t) }, 8, 256, "en"))
  }

  test("Cohen's kappa: perfect agreement → 1000 milli, hand-computed " +
    "contingency matches, negative kappa floors like DuckDB //, " +
    "constant raters → 0 by convention, layout-invariant") {
    import org.apache.spark.sql.functions._
    def df(rows: Seq[(Boolean, Boolean)]) =
      rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "ra", "rb")
    // perfect agreement
    val p = ClassifierOps.raterAgreement(
      df(Seq((true, true), (false, false), (true, true))),
      col("ra"), col("rb")).head()
    assert(p.getAs[Long]("kappa_milli") === 1000L)
    // hand case: n=10, n11=4, n10=1, n01=2, n00=3 →
    // po=7/10, pe=(5*6+5*4)/100=1/2, κ=(7-5)/(10-5)=0.4 → 400 milli
    val rows = Seq.fill(4)((true, true)) ++ Seq((true, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(3)((false, false))
    val h = ClassifierOps.raterAgreement(df(rows), col("ra"), col("rb"))
      .head()
    assert((h.getAs[Long]("n11"), h.getAs[Long]("n10"),
      h.getAs[Long]("n01"), h.getAs[Long]("n00")) === (4L, 1L, 2L, 3L))
    assert(h.getAs[Long]("po_ppm") === 700000L)
    assert(h.getAs[Long]("pe_ppm") === 500000L)
    assert(h.getAs[Long]("kappa_milli") === 400L)
    // systematic disagreement: n11=0,n10=2,n01=2,n00=0 → po=0,
    // pe=(2*2+2*2)/16=1/2 → κ=(0-8)/(16-8)=-1 → -1000 (floor exact)
    val neg = ClassifierOps.raterAgreement(
      df(Seq((true, false), (true, false), (false, true), (false, true))),
      col("ra"), col("rb")).head()
    assert(neg.getAs[Long]("kappa_milli") === -1000L)
    // a NON-exact negative kappa must FLOOR (DuckDB // semantics), not
    // truncate: n11=1,n10=2,n01=2,n00=1 → po=2/6, pe=(3*3+3*3)/36=1/2
    // → κ=(12-18)/(36-18)=-1/3 → floor(-1000/3)=-334 (trunc gives -333)
    val nf = ClassifierOps.raterAgreement(
      df(Seq((true, true), (true, false), (true, false),
        (false, true), (false, true), (false, false))),
      col("ra"), col("rb")).head()
    assert(nf.getAs[Long]("kappa_milli") === -334L)
    // constant raters → pe = 1 → κ = 0 by convention
    val c = ClassifierOps.raterAgreement(
      df(Seq((true, true), (true, true))), col("ra"), col("rb")).head()
    assert(c.getAs[Long]("kappa_milli") === 0L)
    // layout invariance
    val big = df((0 until 100).map(i => (i % 3 == 0, i % 4 == 0)))
    val x = ClassifierOps.raterAgreement(big, col("ra"), col("rb"))
      .collect().toSeq
    val y = ClassifierOps.raterAgreement(big.repartition(7), col("ra"),
      col("rb")).collect().toSeq
    assert(x === y)
  }
}
