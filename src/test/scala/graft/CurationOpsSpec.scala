package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import graft.ops.{CorpusOps, PackingOps}

/** Round-3 curation additions: sequence packing (distributed prefix sum),
  * per-source caps, HLL validation, repeated-gram coverage. */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def docsDf(n: Int) = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (0 until n).map { i =>
      val words = 1 + rng.nextInt(40)
      val text = (0 until words).map(j => s"w${(i * 31 + j * 7) % 50}").mkString(" ")
      (i.toLong, text, s"src${i % 5}", text.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
  }

  test("packChunks (distributed prefix sum) is row-identical to the " +
    "running-sum window formulation, partition-layout invariant") {
    val docs = docsDf(300)
    val expected = PackingOps.packChunksWindow(docs, capacity = 256)
      .orderBy("doc_id").collect().toSeq
    Seq(docs, docs.repartition(7), docs.repartition(1),
        docs.orderBy(col("doc_id").desc)).foreach { in =>
      val got = PackingOps.packChunks(in)
        .orderBy("doc_id").collect().toSeq
      assert(got === expected)
    }
  }

  test("packChunks straddles pack boundaries exactly (concat-then-chunk)") {
    import spark.implicits._
    // token counts 100, 200, 300 with 256-token packs: offsets 0,100,300
    // → packs [0,0],[0,1],[1,2]
    def text(n: Int) = Seq.fill(n)("a").mkString(" ")
    val docs = Seq((0L, text(100)), (1L, text(200)), (2L, text(300)))
      .toDF("doc_id", "text")
    val got = PackingOps.packChunks(docs)
      .orderBy("doc_id")
      .select("doc_id", "global_offset", "start_pack", "end_pack")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L, 0L, 0L), (1L, 100L, 0L, 1L),
      (2L, 300L, 1L, 2L)))
  }

  test("packChunks plans NO SinglePartition exchange (the window " +
    "formulation's scale-killer)") {
    val docs = docsDf(100)
    def singlePartExchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }.size
      finally spark.conf.set(key, prev)
    }
    assert(singlePartExchanges(PackingOps.packChunksWindow(docs)) >= 1,
      "reference window formulation should serialize through one partition")
    assert(singlePartExchanges(PackingOps.packChunks(docs)) === 0)
  }

  test("domainCap matches the row_number window formulation") {
    import org.apache.spark.sql.expressions.Window
    val docs = docsDf(200)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val expected = docs
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rk"))
      .orderBy("doc_id").collect().toSeq
    val got = CorpusOps.domainCap(docs)
      .orderBy("doc_id").collect().toSeq
    assert(got === expected)
    // and partition-layout invariant (map-side heaps must not change output)
    val got1 = CorpusOps.domainCap(docs.repartition(13))
      .orderBy("doc_id").collect().toSeq
    assert(got1 === expected)
  }

  test("hllValidate: raw-branch estimate lands within the m=64 error " +
    "envelope of the exact cardinality, deterministically") {
    import spark.implicits._
    val docs = docsDf(400).select(col("doc_id"), col("text"))
    val r = CorpusOps.hllValidate(docs).as[(Long, Long, Long, Long)].head()
    val (m, nExact, est, errPm) = r
    assert(m === 64L)
    assert(nExact > 1000L, s"stream too small for the raw branch: $nExact")
    // 3σ for m=64 is ~3·1.04/√64 ≈ 39%; anything inside is a sane sketch
    assert(errPm <= 400L, s"estimate $est vs exact $nExact (err ${errPm}‰)")
    val r2 = CorpusOps.hllValidate(docs.repartition(9))
      .as[(Long, Long, Long, Long)].head()
    assert(r2 === r)
  }

  test("cmsValidate: every point estimate dominates its exact count " +
    "(CMS one-sided error), layout-invariant") {
    import spark.implicits._
    val docs = docsDf(300).select(col("doc_id"), col("text"))
    val rows = CorpusOps.cmsValidate(docs)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.size === 20)
    rows.foreach { case (t, exact, est, over) =>
      assert(est >= exact, s"$t: est $est < exact $exact")
      assert(over === est - exact)
    }
    val rows2 = CorpusOps.cmsValidate(docs.repartition(11))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows2 === rows)
  }

  test("mixturePlan: budget respected, rates capped, deficit only at cap, " +
    "layout-invariant") {
    import spark.implicits._
    val docs = docsDf(300)
    val rows = CorpusOps.mixturePlan(docs)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows.map(_._1).distinct.size === rows.size)
    val totalTokens = rows.map(_._3).sum
    val budget = totalTokens * 60 / 100
    assert(rows.map(_._7).sum <= budget, "planned yield exceeds the budget")
    rows.foreach { case (src, nDocs, nTok, w, target, rate, planned, deficit) =>
      assert(nDocs > 0 && nTok > 0)
      assert(w >= 1 && w <= 5)
      assert(rate <= 1000L, s"$src rate $rate")
      assert(planned === nTok * rate / 1000)
      // below the cap only floor-rounding loss remains: rate quantization
      // loses at most n_tokens/1000 + 1 tokens
      if (deficit > 0 && rate < 1000L) assert(deficit <= nTok / 1000 + 1,
        s"$src deficit $deficit exceeds the rounding bound below the cap")
      assert(deficit === math.max(target - planned, 0L))
    }
    val rows2 = CorpusOps.mixturePlan(docs.repartition(7))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows2 === rows)
  }

  test("quantileValidate: sample estimate and exact side match the " +
    "brute-force rank rule; bottom-k plans as TakeOrderedAndProject; " +
    "layout-invariant") {
    import spark.implicits._
    val docs = docsDf(400)
    val q = CorpusOps.quantileValidate(docs)
    assert(q.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"),
      "bottom-k-by-hash must plan as a bounded per-partition heap")
    val rows = q.as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val vals = docs.select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect()
    val sortedAll = vals.map(_._2).sorted
    val samp = vals
      .sortBy { case (id, _) => (graft.ops.TextOps.md5Low63(id.toString + "|qtl"), id) }
      .take(256).map(_._2).sorted
    def rk(q: Long, n: Int): Int = ((q * n + 99) / 100).toInt
    assert(rows.map(_._1).toSeq === Seq(25L, 50L, 75L, 90L))
    rows.foreach { case (qq, nTot, kS, exact, est, err) =>
      assert(nTot === vals.length.toLong)
      assert(kS === 256L)
      assert(exact === sortedAll(rk(qq, vals.length) - 1))
      assert(est === samp(rk(qq, 256) - 1))
      assert(err === math.abs(est - exact) * 1000 / math.max(exact, 1L))
    }
    val rows2 = CorpusOps.quantileValidate(docs.repartition(9))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows2 === rows)
  }

  test("surprisalScores matches the brute-force per-doc computation") {
    import spark.implicits._
    val docs = docsDf(150).select(col("doc_id"), col("text"))
    val collected = docs.as[(Long, String)].collect()
    val occ = collected.flatMap { case (_, t) => t.trim.split("\\s+") }
    val gtf = occ.groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val n = occ.length.toLong
    def bitlen(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val vocab = gtf.toSeq.sortBy { case (t, c) => (-c, t) }.take(20).toMap
    val expected = collected.map { case (id, text) =>
      val toks = text.trim.split("\\s+")
      val s = toks.map(t => bitlen(n) - bitlen(vocab.getOrElse(t, 1L))).sum
      (id, toks.length.toLong, s.toLong)
    }.sortBy(_._1).toSeq
    val got = CorpusOps.surprisalScores(docs)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("spanRunStats matches a brute-force run computation over the " +
    "interleaved span payload") {
    import spark.implicits._
    val docs = graft.io.Synthesizer.docs(spark, 300, seed = 42L)
    val got = graft.ops.InterleaveOps.spanRunStats(docs)
      .orderBy("doc_id")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val expected = docs.collect().sortBy(_.doc_id).toSeq.map { d =>
      val kinds = d.spans.map(_.kind)
      val runs = kinds.foldLeft(List.empty[(String, Int)]) {
        case ((k, n) :: rest, kk) if k == kk => (k, n + 1) :: rest
        case (acc, kk) => (kk, 1) :: acc
      }.reverse
      def maxRun(k: String) =
        runs.collect { case (`k`, n) => n }.foldLeft(0)(math.max).toLong
      val adj = kinds.sliding(2).count(w =>
        w.length == 2 && w(0) == "text" && w(1) == "media").toLong
      (d.doc_id, kinds.size.toLong,
        kinds.count(_ != "media").toLong, kinds.count(_ == "media").toLong,
        runs.size.toLong, maxRun("text"), maxRun("media"), adj)
    }
    assert(got === expected)
  }

  test("renderInterleaved matches a brute-force (offset, ord)-ordered " +
    "concatenation with media sentinels, md5-exact") {
    import spark.implicits._
    val docs = graft.io.Synthesizer.docs(spark, 200, seed = 42L)
    val got = graft.ops.InterleaveOps.renderInterleaved(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    val expected = docs.collect()
      .sortBy(_.doc_id.stripPrefix("doc-").toLong).toSeq.map { d =>
        val rendered = d.spans.zipWithIndex
          .sortBy { case (s, i) => (s.offset, i) }
          .map { case (s, _) =>
            if (s.kind == "text") s.text else s"<|${s.kind}:${s.media_ref}|>"
          }.mkString
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(rendered.getBytes("UTF-8"))
        (d.doc_id.stripPrefix("doc-").toLong, d.spans.size.toLong,
          d.spans.count(_.kind != "text").toLong, rendered.length.toLong,
          md.map("%02x".format(_)).mkString)
      }
    assert(got === expected)
    assert(got.exists(_._3 > 0), "corpus must exercise media sentinels")
  }

  test("captionPairs: media→text adjacency in render order, md5-exact; " +
    "media runs and trailing media yield no pair") {
    import spark.implicits._
    val docs = graft.io.Synthesizer.docs(spark, 300, seed = 42L)
    val got = graft.ops.InterleaveOps.captionPairs(docs)
      .orderBy("doc_id", "ord")
      .as[(Long, Long, String, Long, String)].collect().toSeq
    val expected = docs.collect()
      .sortBy(_.doc_id.stripPrefix("doc-").toLong).toSeq.flatMap { d =>
        val arr = d.spans.zipWithIndex
          .sortBy { case (s, i) => (s.offset, i) }.map(_._1)
        (0 until arr.length - 1).collect {
          case i if arr(i).kind == "media" && arr(i + 1).kind == "text" =>
            val cap = arr(i + 1).text
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(cap.getBytes("UTF-8")).map("%02x".format(_)).mkString
            (d.doc_id.stripPrefix("doc-").toLong, i.toLong,
              arr(i).media_ref, cap.length.toLong, md)
        }
      }
    assert(got === expected)
    assert(got.nonEmpty, "corpus must yield caption pairs")
    // heavy docs (media runs) contribute nothing: every pair's media span
    // is singular before its caption — sanity that adjacency is strict
    val pairedDocs = got.map(_._1).toSet
    val heavy = docs.collect().filter(_.spans.count(_.kind == "media") > 5)
      .map(_.doc_id.stripPrefix("doc-").toLong)
    assert(heavy.forall(h => !pairedDocs.contains(h)))
  }

  test("x13 html strip: planted chrome is removed per variant, content " +
    "text survives") {
    import spark.implicits._
    // the sf token keys this test's dump to _800, NOT the driver's sf0.01
    // _2000 path — a bare temp dir falls back to docCountFor's 0.01
    // default and the 8-doc dump written here would clobber the dump the
    // driver's x13 oracle reads (observed: CORRECTNESS x13 rows 500 != 8
    // whenever the suite runs between Verify and the oracle check)
    val d = java.nio.file.Files.createTempDirectory("graft_html_sf0.004_")
      .toString
    (0 until 8).map(i => (i.toLong, s"content line $i", "en", "src", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val stats = SparkEntry.queries("x13_html_strip")(spark, d).collect()
    assert(stats.length === 8)
    val lines = spark.read.parquet(SparkEntry.htmlStripDumpPath(d))
      .as[(Long, Long, String)].collect().toSeq
    (0 until 8).foreach { i =>
      assert(lines.exists(l => l._1 == i && l._3.contains(s"content line $i")),
        s"doc $i content lost: ${lines.filter(_._1 == i)}")
    }
    assert(lines.exists(l => l._1 % 4 == 2 && l._3 == "heading kept"))
    val joined = lines.map(_._3.toLowerCase).mkString(" ")
    assert(!joined.contains("subscribe"), "aside chrome survived")
    assert(!joined.contains("copyright"), "footer boilerplate survived")
    assert(!joined.contains("var x = 1"), "script chrome survived")
    assert(!joined.contains("home"), "nav chrome survived")
  }

  test("x14 media integrity: planted dangling refs and orphans fire, " +
    "bounds hold") {
    val row = SparkEntry.queries("x14_media_integrity")(spark,
      "/root/testdata/sf0.001").collect().head
    val (nRefs, nMedia, nDang, nDangDocs, nOrph) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))
    assert(nRefs > 0 && nMedia > 0)
    assert(nDang > 0, "planted dangling refs must fire")
    assert(nOrph > 0, "planted orphans must fire")
    assert(nDangDocs <= nDang && nDang <= nRefs && nOrph <= nMedia)
  }

  test("mmCosts: text tokens + 64 per media span, numeric doc key") {
    import spark.implicits._
    val docs = graft.io.Synthesizer.docs(spark, 100, seed = 42L)
    val got = graft.ops.InterleaveOps.mmCosts(docs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val expected = docs.collect().sortBy(_.doc_id).toSeq.map { d =>
      val cost = d.spans.map { s =>
        if (s.kind == "media") 64L
        else {
          val t = s.text.trim
          if (t.isEmpty) 1L else t.split("\\s+").length.toLong
        }
      }.sum
      (d.doc_id.stripPrefix("doc-").toLong, cost)
    }
    assert(got === expected)
    assert(got.map(_._1) === got.map(_._1).sorted) // packing order key
  }

  test("packChunksCost over mm costs equals the window formulation") {
    import spark.implicits._
    val costs = graft.ops.InterleaveOps.mmCosts(
      graft.io.Synthesizer.docs(spark, 200, seed = 42L))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = costs
      .withColumn("global_offset",
        coalesce(sum(col("cost")).over(w), lit(0L)))
      .select(col("doc_id"), col("cost").as("n_tokens"), col("global_offset"),
        (col("global_offset") / 1024).cast("long").as("start_pack"),
        ((col("global_offset") + greatest(col("cost"), lit(1L)) - 1L) / 1024)
          .cast("long").as("end_pack"))
      .orderBy("doc_id").collect().toSeq
    val got = graft.ops.PackingOps
      .packChunksCost(costs, col("cost"), capacity = 1024)
      .orderBy("doc_id").collect().toSeq
    assert(got === expected)
  }

  test("repeatedGramStats counts cross-doc repeated 4-grams only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta unique0 tail0"),
      (1L, "alpha beta gamma delta unique1 tail1"), // shares one 4-gram with 0
      (2L, "totally different words here indeed")
    ).toDF("doc_id", "text")
    val got = CorpusOps.repeatedGramStats(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // docs 0/1: 3 distinct 4-grams each, exactly one shared
    assert(got === Seq((0L, 3L, 1L), (1L, 3L, 1L), (2L, 2L, 0L)))
  }

  test("lineDedupStats: fixed 8-token blocks, duplicated = hash occurs " +
    ">= 2 times corpus-wide, last partial block clamps") {
    import spark.implicits._
    val eight = "a b c d e f g h"
    val docs = Seq(
      (0L, s"$eight i j k"),         // blocks: [eight], [i j k]
      (1L, s"$eight z"),             // blocks: [eight], [z]
      (2L, "i j k"),                 // block:  [i j k]  (full doc = block)
      (3L, "p q r s t u v w")        // block:  unique
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.lineDedupStats(docs)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // "a..h" occurs twice (docs 0,1); "i j k" occurs twice (docs 0,2)
    assert(got === Seq((0L, 2L, 2L), (1L, 2L, 1L), (2L, 1L, 1L),
                       (3L, 1L, 0L)))
  }

  test("dupSpans: maximal cross-doc duplicated runs, within-doc repeats " +
    "count, short docs and island splits handled") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e x1 x2 x3"),          // shares "a b c d e" with doc 1
      (1L, "z1 a b c d e z2 z3"),
      (2L, "p q r s"),                      // one unique gram
      (3L, "m m m m m m"),                  // within-doc repeated gram run
      (4L, "u v"),                          // short doc (< w tokens)
      (5L, "a b c d q1 q2 q3 q4 b c d e")  // two separate dup islands
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.dupSpans(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 5L, 1L, 5L, 5L),   // run at gram pos [1..2] → 5-token span
      (1L, 5L, 1L, 5L, 5L),   // run at gram pos [2..3] → 5-token span
      (2L, 1L, 0L, 0L, 0L),
      (3L, 3L, 1L, 6L, 6L),   // all 3 "m m m m" grams dup → whole doc
      (4L, 1L, 0L, 0L, 0L),
      (5L, 9L, 2L, 8L, 4L)))  // islands at pos 1 and pos 9, 4 tokens each
  }

  test("pmiPairs: windowed pair counts, minCo cut, integer lift") {
    import spark.implicits._
    val docs = Seq((0L, "a b a b")).toDF("doc_id", "text")
    // pairs in window 5: (a,b)×4, (a,a)×1, (b,b)×1 → only (a,b) survives
    // minCo=2; lift = 4·10^6·4 / (2·2)
    val got = graft.ops.CorpusOps.pmiPairs(docs)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 4L, 2L, 2L, 4000000L)))
  }

  test("kcenterCoreset: seed at min vec_id, exact integer farthest-point " +
    "chain with vec_id tie-break") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f)), (1L, Array(0.1f)), (2L, Array(0.25f)),
      (3L, Array(0.5f))
    ).toDF("vec_id", "embedding")
    val got = graft.ops.SimilarityOps.kcenterCoreset(emb)
      .orderBy("iter").as[(Long, Long, Long)].collect().toSeq
    // quantized coords 0/100/250/500: seed 0 → farthest 500 (d²=250000) →
    // then v2 at min-dist min(250², 250²) = 62500 → then v1 at
    // min(100², 150²) = 10000
    assert(got === Seq((1L, 0L, 0L), (2L, 3L, 250000L), (3L, 2L, 62500L),
      (4L, 1L, 10000L)))
  }

  test("kcenterCoreset is total: zero rows select nothing (the oracle's " +
    "empty answer), with the selecting run's schema") {
    import spark.implicits._
    val emb = Seq((0L, Array(0.0f)), (1L, Array(0.1f)))
      .toDF("vec_id", "embedding")
    val some = graft.ops.SimilarityOps.kcenterCoreset(emb)
    assert(some.collect().nonEmpty)
    val out = graft.ops.SimilarityOps.kcenterCoreset(emb.limit(0))
    assert(out.schema === some.schema)
    assert(out.collect().isEmpty)
  }

  test("sourceEntropy: integer bitlen identity on a hand corpus") {
    import spark.implicits._
    val docs = Seq((0L, "a a b", "s1"), (1L, "c c c c", "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.CorpusOps.sourceEntropy(docs)
      .orderBy("source").as[(String, Long, Long, Long)].collect().toSeq
    // s1: N=3 (bitlen 2), c(a)=2 (bitlen 2), c(b)=1 (bitlen 1) →
    //     mass = 3·2 − (2·2 + 1·1) = 1
    // s2: N=4 (bitlen 3), c(c)=4 (bitlen 3) → mass = 4·3 − 4·3 = 0
    assert(got === Seq(("s1", 3L, 2L, 1L), ("s2", 4L, 1L, 0L)))
  }

  test("sourceOverlap df cap drops stop-grams present in > maxDf sources") {
    import spark.implicits._
    // 4-gram "a b c d" in 65 sources (one over the 64-source cap);
    // "x y z w" in s00 and s01 only
    val srcs = (0 until 65).map(i => f"s$i%02d")
    val stop = srcs.map(s => (s, "a b c d"))
    val pair = Seq(("s00", "x y z w"), ("s01", "x y z w"))
    // over the cap: the stop-gram is dropped → exactly the (s00, s01) pair
    val capped = CorpusOps.sourceOverlap((stop ++ pair).toDF("source", "text"))
      .as[(String, String, Long)].collect().toSeq
    assert(capped === Seq(("s00", "s01", 1L)))
    // at the cap (64 sources): the gram is kept and pairs all 64 sources
    val open = CorpusOps.sourceOverlap(
        (stop.take(64) ++ pair).toDF("source", "text"))
      .as[(String, String, Long)].collect().toSeq
    assert(open.size === 64 * 63 / 2)
    assert(open.filter(_._3 == 2L) === Seq(("s00", "s01", 2L)))
  }

  test("bpePairCounts matches the brute-force pair tally, " +
    "layout-invariant") {
    import spark.implicits._
    val docs = docsDf(120).select(col("doc_id"), col("text"))
    val expected = docs.as[(Long, String)].collect()
      .flatMap { case (_, t) =>
        t.trim.split("\\s+").flatMap(tok => tok.sliding(2).filter(_.length == 2))
      }
      .groupBy(identity).map { case (p, a) => (p, a.length.toLong) }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(50)
    val got = CorpusOps.bpePairCounts(docs)
      .as[(String, Long)].collect().toSeq
    assert(got === expected)
    val got2 = CorpusOps.bpePairCounts(docs.repartition(9))
      .as[(String, Long)].collect().toSeq
    assert(got2 === expected)
  }

  /** Reference BPE (Sennrich learn_bpe): overlapping pair counts weighted
    * by word freq, (count DESC, l, r) argmax, greedy left-to-right
    * non-overlapping apply. */
  private def bruteBpe(texts: Seq[String], steps: Int, maxWordLen: Int)
    : Seq[(Long, String, String, Long, Long, Long)] = {
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(_.trim.split("\\s+"))
      .filter(w => w.nonEmpty && w.length <= maxWordLen)
      .groupBy(identity)
      .map { case (w, xs) => w.map(_.toString).toVector -> xs.size.toLong }
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, Long, Long, Long)]
    var step = 1
    var counts = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    def census(): Unit = {
      counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts((syms(i), syms(i + 1))) += f
          i += 1
        }
      }
    }
    census()
    while (step <= steps && counts.nonEmpty) {
      val ((l, r), n) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, f) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            acc += (l + r); i += 2
          } else { acc += syms(i); i += 1 }
        }
        acc.toVector -> f
      }
      val tok = vocab.map { case (s, f) => s.length * f }.sum
      val nsym = vocab.keys.flatten.toSet.size
      out += ((step.toLong, l, r, n, tok, nsym.toLong))
      step += 1
      census()
    }
    out.toSeq
  }

  test("bpeTrain matches the reference merge loop on a real corpus and " +
    "is layout-invariant") {
    import spark.implicits._
    val docs = docsDf(120).select(col("doc_id"), col("text"))
    val texts = docs.as[(Long, String)].collect().map(_._2).toSeq
    val expected = bruteBpe(texts, steps = 8, maxWordLen = 32)
    val got = CorpusOps.bpeTrain(docs)
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    val got2 = CorpusOps.bpeTrain(docs.repartition(9))
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    assert(got2 === expected)
  }

  test("bpeTrain applies merges greedily left-to-right (aaaa → aa,aa — " +
    "never aa,a,a) and counts pairs overlapping") {
    import spark.implicits._
    val docs = Seq((0L, "aaaa aaaa bq"), (1L, "aaaa bq bq")).toDF(
      "doc_id", "text")
    val got = CorpusOps.bpeTrain(docs)
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    // step 1: pair (a,a) counted OVERLAPPING = 3 sites × 3 word occurrences
    assert(got(0)._2 === "a" && got(0)._3 === "a" && got(0)._4 === 9L)
    // greedy apply: each aaaa → [aa, aa]; tok_total = 3×2 (aaaa) + 3×2 (bq)
    assert(got(0)._5 === 12L)
    val expected = bruteBpe(Seq("aaaa aaaa bq", "aaaa bq bq"),
      steps = 8, maxWordLen = 32)
    assert(got === expected)
  }

  test("normalizeText strips controls, collapses whitespace, trims — " +
    "and is byte-pinned via the md5") {
    import spark.implicits._
    val docs = Seq(
      (0L, "\t  hello   world \t"),        // junk whitespace everywhere
      (1L, "clean text"),                   // already normal → n_removed 0
      (2L, "mid\u0007dle\u000b  join\u007f ok") // controls + runs
    ).toDF("doc_id", "text")
    val got = CorpusOps.normalizeText(docs)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0) === ((0L, md5hex("hello world"), 11L,
      "\t  hello   world \t".length - 11L)))
    assert(got(1) === ((1L, md5hex("clean text"), 10L, 0L)))
    // controls removed in-place (no space inserted), runs collapsed
    assert(got(2) === ((2L, md5hex("middle join ok"), 14L,
      "mid\u0007dle\u000b  join\u007f ok".length - 14L)))
  }

  test("prefixDups finds exactly the strict-prefix pairs and broadcasts " +
    "the short side (no sort-merge join)") {
    import spark.implicits._
    val base = "x" * 64 // shared 64-char blocking key
    val docs = Seq(
      (0L, base + " tail tail tail " + ("y" * 120)),  // full doc, len 200
      (1L, (base + " tail tail tail " + ("y" * 120)).substring(0, 100)), // strict prefix of 0
      (2L, base + " other continuation " + ("z" * 80)), // same key, NOT a prefix
      (3L, base + " tail"),                            // len 69, prefix of 0 and 1
      (4L, "short doc under key length")               // len < 64: out of contract
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.prefixDups(docs)
      .orderBy("prefix_id", "full_id")
      .as[(Long, Long, Long)].collect().toSeq
    // doc1 (len 100) is a strict prefix of doc0 only; doc3 (len 69)
    // prefixes doc0 and doc1 (both continue " tail..."); doc2 diverges
    // after the key for all of them
    assert(got === Seq((1L, 0L, 100L), (3L, 0L, 69L), (3L, 1L, 69L)))
    val plan = graft.ops.DedupOps.prefixDups(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("vocabCoverage: exact ranks, string tie-break, integer ppm over a " +
    "hand-computed corpus") {
    import spark.implicits._
    // freqs: a x6, b x3, c x3, d x2 -> total 14; ties b/c rank by token
    val docs = Seq((0L, "a a a b c d"), (1L, "a a a b b c c d"))
      .toDF("doc_id", "text")
    // grid ranks 3, 10, 30, …: only rank 3 exists; the b/c tie puts c
    // there, after a and b (cumulative 6 + 3 + 3)
    val got = CorpusOps.vocabCoverage(docs)
      .select("rank", "token", "term_freq", "cum_tokens", "coverage_ppm")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq((3L, "c", 3L, 12L, 12L * 1000000 / 14)))
  }

  test("ksDrift computes the exact scaled KS sup (hand-checked CDFs)") {
    import spark.implicits._
    // A lengths {1,2,3}, B lengths {3,4,5,6}: n_a=3, n_b=4
    // v=1: |1*4-0*3|=4; v=2: 8; v=3: |3*4-1*3|=9 (sup); v=4: 6; v=5: 3; v=6: 0
    val a = Seq(1L, 2L, 3L).toDF("n_chars")
    val b = Seq(3L, 4L, 5L, 6L).toDF("n_chars")
    val got = CorpusOps.ksDrift(a, b)
      .select("at_value", "n_a", "n_b", "ks_scaled")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((3L, 3L, 4L, 9L)))
  }

  test("ksDrift of a distribution against itself is zero, reported at the " +
    "smallest value (deterministic tie-break)") {
    import spark.implicits._
    val a = Seq(5L, 7L, 9L).toDF("n_chars")
    val got = CorpusOps.ksDrift(a, a)
      .select("at_value", "ks_scaled").as[(Long, Long)].collect().toSeq
    assert(got === Seq((5L, 0L)))
  }

  test("splitLeakage keeps whole clusters in one split and counts naive " +
    "leaks exactly") {
    import spark.implicits._
    // two clusters: docs {0, 1} identical after normalization (case +
    // whitespace variants), doc 2 alone
    val docs = Seq(
      (0L, "Hello   World"),
      (1L, "hello world"),
      (2L, "something else")
    ).toDF("doc_id", "text")
    val got = CorpusOps.splitLeakage(docs)
      .select("split", "n_clusters", "n_docs", "n_leaky_naive")
      .as[(String, Long, Long, Long)].collect().toSeq
    // totals must cover all docs and both clusters
    assert(got.map(_._3).sum === 3L)
    assert(got.map(_._2).sum === 2L)
    // recompute the expected census from the same hash rule
    def bucket(s: String) = (graft.ops.TextOps.md5Low63(s + "|spl") % 100).toInt
    def splitOf(b: Int) = if (b < 90) "train" else if (b < 95) "val" else "test"
    val clusterSplit = splitOf(bucket("0"))   // rep of {0,1} is doc 0
    val soloSplit = splitOf(bucket("2"))
    val naiveLeak = if (splitOf(bucket("0")) != splitOf(bucket("1"))) 1L else 0L
    val expected = Seq(
      (clusterSplit, 1L, 2L, naiveLeak),
      (soloSplit, 1L, 1L, 0L))
      .groupBy(_._1).map { case (s, rows) =>
        (s, rows.size.toLong, rows.map(_._3).sum, rows.map(_._4).sum)
      }.toSeq.sortBy(_._1)
    assert(got === expected)
  }

  test("readability: hand-computed words/sentences/vowel-groups and exact " +
    "integer Flesch score") {
    import spark.implicits._
    val docs = Seq((0L, "The cat sat. It ran! Done?")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.readability(docs)
      .select("doc_id", "n_words", "n_sentences", "n_vowel_groups",
        "wps_milli", "spw_milli", "flesch_milli")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // W=6, S=3, Y=7: wps=2000, spw=7000/6=1166,
    // flesch = 206835 - 1015*6/3 - 84600*7/6 = 206835 - 2030 - 98700
    assert(got === Seq((0L, 6L, 3L, 7L, 2000L, 1166L, 106105L)))
  }

  test("readability floors the sentence count at 1 (no division by zero)") {
    import spark.implicits._
    val docs = Seq((0L, "no terminal punctuation here")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.readability(docs)
      .select("n_sentences").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("hashVectorStats matches a direct per-token replay of the same " +
    "salted hashes; L1 parity equals token-count parity") {
    import spark.implicits._
    val texts = Seq((0L, "alpha beta alpha gamma"), (1L, "delta"), (2L, ""))
    val docs = texts.toDF("doc_id", "text")
    val got = CorpusOps.hashVectorStats(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    texts.foreach { case (id, text) =>
      val v = new Array[Long](64)
      "\\s+".r.split(text.trim).foreach { t =>
        val b = (graft.ops.TextOps.md5Low63(t + "|fh") % 64).toInt
        v(b) += (if (graft.ops.TextOps.md5Low63(t + "|fhs") % 2 == 0) 1L else -1L)
      }
      val exp = (v.map(math.abs).sum, v.map(x => x * x).sum,
        v.count(_ != 0).toLong)
      assert(got(id) === exp, s"doc $id")
      // each token contributes +-1 to exactly one bucket
      val nTok = "\\s+".r.split(text.trim).length
      assert((got(id)._1 - nTok) % 2 === 0)
    }
  }

  test("treeRollup aggregates every doc into each of its decimal ancestors " +
    "(non-doc interior nodes included)") {
    import spark.implicits._
    // n_chars = doc_id + 1 for easy sums
    val docs = Seq(0L, 5L, 12L, 123L, 1005L)
      .map(id => (id, id + 1)).toDF("doc_id", "n_chars")
    val got = graft.ops.GraphOps.treeRollup(docs)
      .as[(Long, Long, Long)].collect().toSeq
    // ancestors: 0->{0}; 5->{5}; 12->{12,1}; 123->{123,12,1};
    // 1005->{1005,100,10,1}
    assert(got === Seq(
      (0L, 1L, 1L),                       // doc 0
      (1L, 3L, 13L + 124L + 1006L),       // 12, 123, 1005
      (5L, 1L, 6L),
      (10L, 1L, 1006L),                   // interior node (not a doc)
      (12L, 2L, 13L + 124L),
      (100L, 1L, 1006L),
      (123L, 1L, 124L),
      (1005L, 1L, 1006L)))
  }

  test("kindTransitions equals a brute-force transition count with '^' " +
    "start markers over the synthesized corpus") {
    import spark.implicits._
    val docs = graft.io.Synthesizer.docs(spark, 300, seed = 42L)
    val got = graft.ops.InterleaveOps.kindTransitions(docs)
      .as[(String, String, Long)].collect().toSeq
    val expected = docs.collect().toSeq
      .flatMap { d =>
        val kinds = d.spans.map(_.kind)
        ("^" +: kinds).zip(kinds)
      }
      .groupBy(identity).map { case ((f, t), xs) => (f, t, xs.size.toLong) }
      .toSeq.sortBy(x => (x._1, x._2))
    assert(got === expected)
  }

  test("Aho-Corasick blocklist census equals a brute-force indexOf replay, " +
    "including substring patterns and cross-pattern overlap") {
    import spark.implicits._
    val pats = Seq("the", "the quick", "quick", "fox box")
    val docs = Seq(
      (0L, "the quick brown fox the quick"),  // the x2, the quick x2, quick x2
      (1L, "a fox box inside the fox box"),   // fox box x2, the x1
      (2L, "nothing here matches patterns"),  // "the" does NOT appear? "nothing" has no 'the'... it does not
      (3L, "quick")                            // quick x1
    ).toDF("doc_id", "text")
    val got = graft.ops.BlocklistScan.blocklistCensus(docs, pats)
      .as[(String, Long, Long)].collect().toSeq
    // brute-force non-overlapping leftmost counts per (pattern, doc)
    def cnt(text: String, p: String): Long = {
      var i = 0; var n = 0L
      while ({ val j = text.indexOf(p, i); if (j >= 0) { n += 1; i = j + p.length; true } else false }) ()
      n
    }
    val texts = Seq("the quick brown fox the quick",
      "a fox box inside the fox box", "nothing here matches patterns", "quick")
    val expected = pats.flatMap { p =>
      val per = texts.map(cnt(_, p)).filter(_ > 0)
      if (per.isEmpty) None else Some((p, per.size.toLong, per.sum))
    }.sortBy(_._1)
    assert(got === expected)
    // sanity on the interesting rows: "the" matched inside "the quick"
    assert(got.find(_._1 == "the").get._3 === 3L)
    assert(got.find(_._1 == "the quick").get._3 === 2L)
  }

  test("kAnonymity: group-size histogram with cumulative below-k mass " +
    "matches a brute-force census") {
    import spark.implicits._
    // quasi-identifier = (source, lang, n_chars div 256)
    val rows = Seq(
      (0L, "a", "en", 100L), (1L, "a", "en", 200L),   // group of 2 (bucket 0)
      (2L, "a", "en", 300L),                           // singleton (bucket 1)
      (3L, "b", "en", 10L),                            // singleton
      (4L, "b", "hi", 600L), (5L, "b", "hi", 700L),
      (6L, "b", "hi", 760L)                            // group of 3 (bucket 2)
    ).toDF("doc_id", "source", "lang", "n_chars")
    val got = CorpusOps.kAnonymity(rows)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // sizes: two singletons, one pair, one triple
    assert(got === Seq((1L, 2L, 2L, 2L), (2L, 1L, 2L, 4L), (3L, 1L, 3L, 7L)))
    // k=2 readable: docs in groups of size < 2 == cum at size 1 == 2
    assert(got.head._4 === 2L)
  }

  test("compressionSignal: repetitive source flagged, ratios exact vs " +
    "recomputed deflate") {
    import spark.implicits._
    val rep = ("spam ham " * 120).trim
    val varied = (0 until 200).map(i => s"tok${i * 2654435761L % 99991}").mkString(" ")
    val docs = Seq(
      (0L, rep, "tmpl"), (1L, rep + " x", "tmpl"),
      (2L, varied, "web"), (3L, varied.reverse, "web")
    ).toDF("doc_id", "text", "source")
    val dump = s"/tmp/graft_test_deflate_${System.nanoTime()}"
    val rows2 = CorpusOps.compressionSignal(docs, dump)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (tmplN, tmplRaw, tmplDef, tmplPpm, tmplRep) = rows2("tmpl")
    val (_, webRaw, webDef, webPpm, webRep) = rows2("web")
    assert(tmplN === 2L)
    assert(tmplRep === 2L)  // both template docs compress below 0.35
    assert(webRep === 0L)
    assert(tmplPpm < 150000L)       // templated: < 15% of raw
    assert(webPpm > 350000L)        // varied: well above the cut
    assert(tmplPpm === tmplDef * 1000000L / tmplRaw)
    assert(webPpm === webDef * 1000000L / webRaw)
  }
}
