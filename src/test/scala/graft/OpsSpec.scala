package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SimilarityOps, TextOps, MultimodalOps}

/** Training-data ops: planted duplicates/neighbors must be found. */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** The degenerate corpora every exact-dup collapse equality spec also
    * runs: zero rows, one row, and two identical rows. */
  private def degenerateDocs: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val text = (1 to 12).map(i => s"deg$i").mkString(" ")
    Seq("zero rows" -> docsDf(), "one row" -> docsDf(5L -> text),
      "two identical rows" -> docsDf(5L -> text, 9L -> text))
  }

  test("exact dedup groups identical texts under min keeper id") {
    val df = docsDf(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "different text entirely")
    val out = DedupOps.exact(df).collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n_docs") == 2L).get
    assert(dup.getAs[Long]("keeper_doc_id") === 1L)
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val df = docsDf(1L -> base, 2L -> nearDup, 3L -> other)
    val out = DedupOps.minhashLsh(df).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("doc_a") === 1L)
    assert(out(0).getAs[Long]("doc_b") === 2L)
    // exact jaccard verified: changing 1 of 40 tokens kills 3 of 38 shingles
    assert(out(0).getAs[Int]("n_inter") > 30)
  }

  test("edit-distance near-dups: deletion-neighborhood blocking finds " +
    "exactly the pairs at levenshtein <= 1") {
    import spark.implicits._
    val df = Seq(1L -> "kitten", 2L -> "kitte", 3L -> "kittens",
      4L -> "sitten", 5L -> "hello").toDF("doc_id", "title")
    val out = DedupOps.editDistanceNearDups(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1,2) deletion, (1,3) insertion, (1,4) substitution; everything else
    // is at distance >= 2 and must NOT pair
    assert(out === Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1)))
  }

  test("chunking: 64-token windows every 48 tokens, remainder chunk kept, " +
    "md5 matches the joined tokens") {
    val toks100 = (1 to 100).map(i => s"t$i")
    val df = docsDf(1L -> toks100.mkString(" "), 2L -> "a b c")
    val out = TextOps.chunkDocs(df).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3)))
      .toMap
    // doc 1: starts 0/48/96 → lengths 64, 52, 4
    assert(out((1L, 0))._1 === 64)
    assert(out((1L, 1))._1 === 52)
    assert(out((1L, 2))._1 === 4)
    assert(out((1L, 0))._2 ===
      TextOps.md5Hex(toks100.take(64).mkString(" ")))
    assert(out((1L, 2))._2 ===
      TextOps.md5Hex(toks100.drop(96).mkString(" ")))
    // doc 2: single short chunk
    assert(out((2L, 0)) === ((3, TextOps.md5Hex("a b c"))))
    assert(out.size === 4)
  }

  test("incremental near-dup: delta probes the index, finds its planted " +
    "near-duplicate, never pairs within a set") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val index = docsDf(1L -> base, 3L -> other)
    val delta = docsDf(2L -> nearDup, 4L -> "completely unrelated fresh text")
    val out = DedupOps.minhashIncremental(index, delta).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("doc_a") === 2L) // delta side
    assert(out(0).getAs[Long]("doc_b") === 1L) // index side
    assert(out(0).getAs[Int]("n_inter") > 30)
  }

  test("phrase search: counts consecutive-token occurrences per doc, " +
    "including overlapping ones; non-matching docs are absent") {
    val df = docsDf(1L -> "a b c a b c d", 2L -> "a b x b c",
      3L -> "c b a")
    val out = graft.ops.CorpusOps.phraseSearch(df, Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L))
    val rep = graft.ops.CorpusOps.phraseSearch(
      docsDf(9L -> "z z z z"), Seq("z", "z")).collect()
    assert(rep.map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(9L -> 3L))
  }

  test("misra-gries heavy hitters: above-threshold tokens (incl. every " +
    "planted hot token) come back with both theorem bits = 1") {
    val df = docsDf((0L until 10L).map(i => i -> "x y"): _*)
    val out = graft.ops.CorpusOps
      .heavyHitters(df, 16, "/tmp/graft_mg_spec_16")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // stream: 20 corpus tokens + 20 hot per even doc (0,2,4,6,8) →
    // n = 120, threshold 120 div 17 = 7 → all five tokens are heavy
    val expectExact = Map("x" -> 10L, "y" -> 10L,
      "hot_0" -> 40L, "hot_1" -> 20L, "hot_2" -> 40L)
    assert(out.map(x => x._1 -> x._2).toMap === expectExact)
    out.foreach { case (t, _, inSum, ok) =>
      assert(inSum === 1, t); assert(ok === 1, t)
    }
  }

  test("misra-gries under pressure (k=3): output is exactly the true " +
    "heavy-hitter set with both bits 1 — and LAYOUT-INVARIANT under " +
    "repartitioning (the sf1 audit's drift class)") {
    val df = docsDf((0L until 10L).map(i => i -> "x y"): _*)
    val out = graft.ops.CorpusOps
      .heavyHitters(df, 3, "/tmp/graft_mg_spec_3")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // n = 120, threshold 120 div 4 = 30 → heavy = hot_0, hot_2 (40 each)
    assert(out.map(x => x._1 -> x._2).toMap ===
      Map("hot_0" -> 40L, "hot_2" -> 40L))
    out.foreach { case (t, _, inSum, ok) =>
      assert(inSum === 1, t); assert(ok === 1, t)
    }
    val out2 = graft.ops.CorpusOps
      .heavyHitters(df.repartition(7), 3, "/tmp/graft_mg_spec_3b")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(out2.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("embedding dimension stats: integer-quantized sums/extrema match " +
    "a driver-side recompute across partitionings") {
    import spark.implicits._
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) * 0.125 - 1.0)))
    val df = vecs.toDF("vec_id", "embedding").repartition(3)
    val out = graft.ops.SimilarityOps.dimensionStats(df).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    (0 until 4).foreach { d =>
      val qs = vecs.map(v => math.floor(v._2(d) * 1000).toLong)
      assert(out(d) === ((20L, qs.sum, qs.map(q => q * q).sum,
        qs.min, qs.max)), s"dim $d")
    }
  }

  test("cascade delete: lineage counts per table and the anti-join " +
    "rewrite agree; untouched keys survive") {
    import spark.implicits._
    val base = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("doc_id", "v")
    val derived = Seq((1L, 10), (1L, 11), (2L, 20), (3L, 30), (3L, 31))
      .toDF("doc_id", "x")
    val del = Seq(1L, 3L, 99L).toDF("doc_id") // 99 hits nothing
    val stats = graft.ops.MergeOps.cascadeDelete(del, "doc_id",
        Seq(("base", base, "doc_id"), ("derived", derived, "doc_id")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats("base") === ((3L, 2L, 1L)))
    assert(stats("derived") === ((5L, 4L, 1L)))
    // the rewrite: the table left-anti-joined against the delete keys
    val left = derived.join(del, Seq("doc_id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(left === Set((2L, 20)))
    assert(left.size.toLong === stats("derived")._3)
  }

  test("incremental MV merge: fold of base+delta partials equals the " +
    "full recompute; either-side-only keys survive") {
    import spark.implicits._
    val rows = Seq((1L, 10L, 100L), (1L, 20L, 90L), (2L, 5L, 50L),
      (3L, 7L, 70L), (4L, 1L, 10L))
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("k")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("v").as("sum_v"),
        org.apache.spark.sql.functions.max("ts").as("max_ts"),
        org.apache.spark.sql.functions.min("ts").as("min_ts"))
    val all = rows.toDF("k", "v", "ts")
    // key 3 only in base, key 4 only in delta
    val base = all.where("k <> 4"); val delta = all.where("k = 4 or v = 20")
    val baseOnly = all.where("k <> 4 and v <> 20")
    val merged = graft.ops.MergeOps.mergeAggState(agg(baseOnly), agg(delta),
        Seq("k"), Seq("n", "sum_v"), Seq("max_ts"), Seq("min_ts"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val full = agg(all).collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(merged === full)
    assert(base.count() == 4) // the slices really overlap nothing
  }

  test("retraction IVM: update=retract+insert, delete retracts, new keys " +
    "appear, groups reaching zero vanish, and a stray retraction fails") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mv = Seq(("a", "en", 2L, 30L), ("b", "en", 1L, 5L))
      .toDF("source", "lang", "n_docs", "sum_chars")
    // update one 'a' row 10→17, delete b's only row, insert into new 'c'
    val log = Seq((-1L, "a", "en", 10L), (1L, "a", "en", 17L),
      (-1L, "b", "en", 5L), (1L, "c", "de", 9L))
      .toDF("sign", "source", "lang", "n_chars")
    val out = graft.ops.MergeOps.applyRetracts(mv, log,
        Seq("source", "lang"), "n_docs", "sum_chars", "n_chars")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(("a", "en") -> (2L, 37L), ("c", "de") -> (1L, 9L)))
    // retraction for a row never inserted → fail fast, not a corrupt view
    val stray = Seq((-1L, "zzz", "xx", 3L))
      .toDF("sign", "source", "lang", "n_chars")
    val ex = intercept[Exception] {
      graft.ops.MergeOps.applyRetracts(mv, stray,
        Seq("source", "lang"), "n_docs", "sum_chars", "n_chars").collect()
    }
    assert(ex.getMessage.contains("negative count") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative count")))
  }

  test("rrf fusion: integer contributions sum per candidate, single-list " +
    "candidates keep their one term, ties break by neighbor id") {
    val a = Seq((0L, 1, 100L), (0L, 2, 101L), (1L, 1, 200L))
      .toDF("query_id", "rank", "neighbor_id")
    val b = Seq((0L, 1, 103L), (0L, 2, 101L))
      .toDF("query_id", "rank", "neighbor_id")
    val got = graft.ops.CorpusOps.rrfFuse(Seq(a, b))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // 1000000 div 61 = 16393 (rank 1), div 62 = 16129 (rank 2):
    // q0: 101 in both lists at rank 2 -> 32258 wins; 100 and 103 tie at
    // 16393 -> neighbor-id ascending; q1: only ranking a has it
    assert(got === Seq((0L, 1, 101L), (0L, 2, 100L), (0L, 3, 103L),
      (1L, 1, 200L)))
  }

  test("int8 quantization: engine grid matches a driver recompute " +
    "(negative branch, all-zero-dim scale guard); recall is exact on " +
    "well-separated directions") {
    val vv = (0 until 12).map { i =>
      val sign = if (i % 4 == 3) -1.0f else 1.0f
      (i.toLong, Array.tabulate(5)(d =>
        if (d == i % 4) sign * (1.0f + 0.25f * (i / 4)) else 0.0f))
    }
    val df = vv.toDF("vec_id", "embedding")
    val got = SimilarityOps.quantizeEmbeddings(df).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val mat = vv.map(_._2.map(x => math.floor(x.toDouble * 1000).toLong))
    val scales = (0 until 5).map(d =>
      math.max(math.max(mat.map(_(d)).max, -mat.map(_(d)).min), 1L))
    def qv(fq: Long, sc: Long): Long =
      if (fq >= 0) (fq * 254 + sc) / (2 * sc)
      else -(((-fq) * 254 + sc) / (2 * sc))
    val expected = vv.map { case (id, _) =>
      (id, mat(id.toInt).zip(scales).map { case (fq, sc) => qv(fq, sc) })
    }
    got.zip(expected).foreach { case ((gi, gq), (ei, eq)) =>
      assert(gi === ei); assert(gq.toSeq === eq.toSeq)
    }
    assert(got.forall(_._2.forall(q => q >= -127L && q <= 127L)))
    // every cosine here is exactly 1, -1 or 0 before AND after
    // quantization (one nonzero dim), so both rankings agree and
    // recall@10 over the 10 queries is 100
    val rec = SimilarityOps.quantizedRecall(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rec === (0L until 10L).map(q => (q, 10L, 100L)))
  }

  test("containment pairs: exact dup scores 100 both ways, prefix doc is " +
    "contained in its extension but not vice versa; matches a driver " +
    "recompute over the fingerprint sets") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val ext = base + " " + (100 to 160).map(i => s"extra$i").mkString(" ")
    val other = (1 to 60).map(i => s"other$i").mkString(" ")
    val df = docsDf(1L -> base, 2L -> base, 3L -> ext, 4L -> other)
    val got = DedupOps.containmentPairs(df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    assert(got((1L, 2L)) === 100L)
    assert(got((2L, 1L)) === 100L)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) >= 60L)
    assert(!got.contains((3L, 1L))) // asymmetry: the extension is NOT contained
    assert(!got.keys.exists { case (x, y) => x == 4L || y == 4L })
    val byDoc = TextOps.fingerprints(df, k = 12, window = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val expected = (for {
      (a, sa) <- byDoc.toSeq; (b, sb) <- byDoc.toSeq if a != b
      sh = (sa intersect sb).size if sh * 100 / sa.size >= 50
    } yield (a, b) -> (sh * 100 / sa.size).toLong).toMap
    assert(got === expected)
    // every df is far below the cap of 64, so the capped index loses
    // nothing; the materialized path (the driver query's) is identical
    val materialized = DedupOps.containmentPairs(df, materialize = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    assert(materialized === got)
  }

  test("token drift: ppm rates and top-k ordering match the hand-computed " +
    "values; a token only in the new snapshot surfaces with c_old = 0") {
    val oldS = docsDf(1L -> "alpha beta alpha", 2L -> "beta gamma")
    val newS = docsDf(3L -> "alpha spamtoken spamtoken spamtoken",
      4L -> "beta gamma")
    val got = graft.ops.CorpusOps.tokenDrift(oldS, newS).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // totals: old 5 tokens, new 6. ppm = (c * 10^6) div total.
    assert(got === Seq(
      ("spamtoken", 0L, 3L, 0L, 500000L, 500000L),
      ("alpha", 2L, 1L, 400000L, 166666L, 233334L), // drift tie ->
      ("beta", 2L, 1L, 400000L, 166666L, 233334L),  // token ascending
      ("gamma", 1L, 1L, 200000L, 166666L, 33334L)))
  }

  test("dsir importance scores: smoothed target/corpus ratio matches a " +
    "driver recompute; target-like docs outrank unrelated ones") {
    val corpusRows = Seq(1L -> "ml training data quality",
      2L -> "ml data data pipeline", 3L -> "cats dogs birds fish",
      4L -> "quantum flux capacitor hum")
    val targetRows = Seq(100L -> "ml data quality", 101L -> "training data")
    val got = graft.ops.CorpusOps
      .dsirScores(docsDf(corpusRows: _*), docsDf(targetRows: _*))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def toks(s: String) = s.trim.split("\\s+").toSeq
    val cc = corpusRows.flatMap(r => toks(r._2)).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val tc = targetRows.flatMap(r => toks(r._2)).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val w = cc.map { case (t, c) =>
      t -> ((tc.getOrElse(t, 0L) + 1L) * 10000L) / (c + 1L) }
    val expected = corpusRows.map { case (id, text) =>
      val ts = toks(text)
      val raw = ts.map(w).sum
      id -> ((ts.size.toLong, raw, raw / ts.size))
    }.toMap
    assert(got === expected)
    assert(got(1L)._3 > got(3L)._3 && got(1L)._3 > got(4L)._3)
  }

  test("bm25: integer-quantized okapi ranking matches a driver-side " +
    "recompute; shorter doc with equal tf outranks the padded one") {
    val docs = Seq(
      0L -> "apple banana",
      1L -> ("apple banana " + (1 to 30).map(i => s"pad$i").mkString(" ")),
      2L -> "apple banana cherry",
      3L -> "unrelated words only here")
    val df = docsDf(docs: _*)
    // every doc is a query (ids < 10); query 0's ranking is checked
    val out = graft.ops.CorpusOps.bm25TopK(df)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter(_._1 == 0L)
    // driver-side recompute of the exact integer formula
    val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val n = docs.size.toLong
    val bigL = toks.map(_._2.size).sum.toLong
    val dfMap = toks.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    def score(q: Long, d: Long): Long = {
      val dToks = toks.toMap.apply(d)
      val len = dToks.size.toLong
      toks.toMap.apply(q).distinct.map { t =>
        val tf = dToks.count(_ == t).toLong
        if (tf == 0) 0L
        else {
          val idf = (n * 100) / dfMap(t)
          idf * ((22000 * bigL * tf) /
            (10 * bigL * tf + 3 * bigL + 9 * n * len))
        }
      }.sum
    }
    val expect = Seq(1L, 2L, 3L).map(d => d -> score(0L, d))
      .filter(_._2 > 0).sortBy { case (d, sc) => (-sc, d) }
      .zipWithIndex.map { case ((d, _), i) => (0L, i + 1, d) }
    assert(out.toSeq === expect)
    // length normalization: doc 2 (short) must outrank doc 1 (padded)
    val rankOf = out.map(r => r._3 -> r._2).toMap
    assert(rankOf(2L) < rankOf(1L))
  }

  test("semdedup: within-cell closed-form prune — near-dup of a smaller " +
    "id drops with the smallest witness; cross-cell near-dups survive") {
    import spark.implicits._
    val mk = (x: Double, y: Double) => Array(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, mk(1.0, 0.0)), (2L, mk(0.999, 0.01)), // cell 0 near-dups
      (3L, mk(0.0, 1.0)),                        // cell 0, orthogonal
      (4L, mk(-1.0, 0.0)), (5L, mk(-0.998, -0.02)), // cell 1 near-dups
      (6L, mk(0.997, 0.02)) // near-dup of 1/2 but isolated in cell 2
    ).toDF("vec_id", "embedding")
    val assigned = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (5L, 1), (6L, 2))
      .toDF("vec_id", "cell")
    val out = graft.ops.SimilarityOps.semDedupFrom(emb, assigned, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq === Seq((2L, 0, 1L), (5L, 1, 4L)))
  }

  test("equi-depth histogram: 100 distinct values split into 10 buckets " +
    "of exactly 10; duplicates at a boundary bucket low") {
    val df = (1L to 100L).map(v => v * 7).toDF("x")
    val out = graft.ops.ProfileOps.equiDepthHistogram(df, "x").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 10)
    out.foreach { case (b, n, mn, mx) =>
      assert(n === 10L, s"bucket $b")
      assert(mn === (b * 10 + 1) * 7L && mx === (b + 1) * 10 * 7L, s"bucket $b")
    }
    // duplicates equal to a boundary value stay in the lower bucket: the
    // 9 boundaries are 1 ×5 and 2 ×4, so every 2 has five boundaries below
    val dup = (Seq.fill(50)(1L) ++ Seq.fill(50)(2L)).toDF("x")
    val out2 = graft.ops.ProfileOps.equiDepthHistogram(dup, "x")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out2 === Map(0 -> 50L, 5 -> 50L))
  }

  test("table profile: one row per column with completeness, exact " +
    "cardinality and stringified min/max") {
    val df = Seq((1L, Option("a")), (2L, Option.empty[String]),
      (2L, Option("b"))).toDF("k", "v")
    val out = graft.ops.ProfileOps.profile(df, Seq("k", "v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toMap
    assert(out("k") === ((3L, 0L, 2L, "1", "2")))
    assert(out("v") === ((3L, 1L, 2L, "a", "b")))
  }

  test("chunking invariants across lengths 1..150: contiguous indexes, " +
    "window arithmetic, md5 of exactly the window's tokens") {
    (1 to 150 by 7).foreach { n =>
      val toks = (1 to n).map(i => s"w$i")
      val out = TextOps.chunkDocs(docsDf(5L -> toks.mkString(" ")))
        .collect()
        .map(r => r.getInt(1) -> (r.getInt(2), r.getString(3))).toMap
      val expectedChunks = (0 until n by 48).zipWithIndex
      assert(out.size === expectedChunks.size, s"n=$n")
      expectedChunks.foreach { case (st, idx) =>
        val window = toks.slice(st, math.min(st + 64, n))
        assert(out(idx)._1 === window.length, s"n=$n idx=$idx")
        assert(out(idx)._2 === TextOps.md5Hex(window.mkString(" ")),
          s"n=$n idx=$idx")
      }
    }
  }

  test("bigram surprisal: hand-computed bit-length scores over a tiny " +
    "corpus (rare continuations cost bits, the modal one costs none)") {
    val df = docsDf(1L -> "a b a b c", 2L -> "a b")
    // c1: a=3, b=2; c12: "a b"=3, "b a"=1, "b c"=1; bitlen: 3→2, 2→2, 1→1
    // doc1: 2×("a b": 2-2) + ("b a": 2-1) + ("b c": 2-1) = 2, n_pairs 4
    // doc2: 1×("a b": 2-2) = 0, n_pairs 1
    val out = graft.ops.CorpusOps.bigramSurprisal(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(1L -> ((4L, 2L)), 2L -> ((1L, 0L))))
  }

  test("observedWrite: metric aggregates ride the sink job and match a " +
    "direct aggregation; the parquet lands intact") {
    val df = docsDf(1L -> "alpha", 2L -> "beta gamma", 3L -> "x")
    val path = "/tmp/graft_observe_spec"
    val m = graft.pipe.Metrics.observedWrite(df, path, Seq(
      count(lit(1)).as("n_docs"),
      sum(length(col("text"))).as("sum_len")))
    assert(m("n_docs") === 3L)
    assert(m("sum_len") === (5 + 10 + 1).toLong)
    assert(spark.read.parquet(path).count() === 3L)
  }

  test("pagerank: distributed ranks equal a driver-side brute-force replay " +
    "of the same integer arithmetic; rank mass stays near n*10^9") {
    val df = docsDf((0L until 12L).map(i => i -> s"doc $i text"): _*)
    val n = 12L
    val edges = graft.ops.GraphOps.linkEdges(df, n).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var pr = (0L until n).map(_ -> 1000000000L).toMap
    (1 to 3).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / 4 }.sum
      }
      pr = (0L until n).map(v =>
        v -> (150000000L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = graft.ops.GraphOps.pagerank(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === pr)
    val mass = got.values.sum
    assert(mass > 11L * 1000000000L && mass <= 12L * 1000000000L)
  }

  test("triangles: distributed per-node counts equal the brute-force " +
    "enumeration; the ring edges guarantee a non-zero total") {
    val df = docsDf((0L until 12L).map(i => i -> s"doc $i text"): _*)
    val edges = graft.ops.GraphOps.linkEdges(df, 12L).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .filter(e => e._1 != e._2).distinct.toSet
    val nodes = (0L until 12L).toArray
    val triPer = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (a <- nodes; b <- nodes if a < b && edges((a, b));
         c <- nodes if b < c && edges((b, c)) && edges((a, c))) {
      triPer(a) += 1; triPer(b) += 1; triPer(c) += 1
    }
    val degPer = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = graft.ops.GraphOps.triangles(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 12)
    got.foreach { case (node, deg, tri) =>
      assert(deg === degPer.getOrElse(node, 0L), s"degree of $node")
      assert(tri === triPer(node), s"triangles of $node")
    }
    assert(got.map(_._3).sum > 0, "ring structure must yield triangles")
  }

  test("bfsHops: distributed frontier rounds equal a driver-side BFS replay; " +
    "seeds sit at hop 0 and every reported hop is the minimum") {
    val df = docsDf((0L until 200L).map(i => i -> s"doc $i text"): _*)
    val edges = graft.ops.GraphOps.linkEdges(df, 200L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).distinct }
    // brute BFS from seeds {0, 97, 194} (doc_id % 97 == 0 over 200 nodes)
    var dist = Map(0L -> 0L, 97L -> 0L, 194L -> 0L)
    var frontier = Set(0L, 97L, 194L)
    (1 to 3).foreach { h =>
      val next = frontier.flatMap(n => edges.get(n).toSeq.flatten)
        .filterNot(n => dist.contains(n))
      dist = dist ++ next.map(_ -> h.toLong)
      frontier = next
    }
    val got = graft.ops.GraphOps.bfsHops(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === dist)
    assert(got(0L) === 0L && got(97L) === 0L)
  }

  test("hardNegatives: every mined neighbor has a different label and the " +
    "ranking is the cosine order over the other-label candidate set") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), // anchor, label 0
      (1L, Array(0.9f, 0.1f, 0f, 0f), 0), // same label — must be excluded
      (2L, Array(0.8f, 0.2f, 0f, 0f), 1), // closest other-label
      (3L, Array(0f, 1f, 0f, 0f), 1),
      (4L, Array(0f, 0f, 1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    // every vector is a query (ids < 10); the anchor's list is checked
    val got = SimilarityOps.hardNegatives(vecs).where(col("query_id") === 0L)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(got.toSeq === Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  test("fertilityByLang: per-lang sums equal the tokenCounts aggregation " +
    "and the ratios are the integer floor divisions") {
    val df = Seq(
      (1L, "hello world!", "en"),
      (2L, "a b c d", "en"),
      (3L, "bonjour le monde", "fr"))
      .toDF("doc_id", "text", "lang")
    val perDoc = TextOps.tokenCounts(df.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int](1).toLong, r.getAs[Int](2).toLong, r.getAs[Int](3).toLong)).toMap
    val en = Seq(perDoc(1L), perDoc(2L))
    val got = TextOps.fertilityByLang(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("en").getAs[Long]("sum_ws_tokens") === en.map(_._1).sum)
    assert(got("en").getAs[Long]("sum_bpeish_tokens") === en.map(_._2).sum)
    assert(got("en").getAs[Long]("sum_chars") === en.map(_._3).sum)
    assert(got("en").getAs[Long]("fert_per_100_words") ===
      en.map(_._2).sum * 100 / en.map(_._1).sum)
    assert(got("fr").getAs[Long]("n_docs") === 1L)
    assert(got("fr").getAs[Long]("toks_per_1000_chars") ===
      perDoc(3L)._2 * 1000 / perDoc(3L)._3)
  }

  test("simhash pairs: identical docs at hamming 0, unrelated docs unpaired") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (200 to 260).map(i => s"zzz$i").mkString(" ")
    val pairs = DedupOps.simhashPairs(docsDf(1L -> base, 2L -> base, 3L -> other))
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Int]("hamming") === 0)
  }

  test("brute-force ANN top-k: identical vector ranks first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(1f, 0.01f, 0f, 0f), 0), // near-identical to 0
      (2L, Array(0f, 1f, 0f, 0f), 1),
      (3L, Array(0f, 0.9f, 0.1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.bruteTopK(vecs).collect()
    assert(top.head.getAs[Long]("neighbor_id") === 1L) // rank 1 = closest
  }

  test("LSH buckets put identical vectors together") {
    val vecs = Seq(
      (0L, Array.fill(64)(1f), 0),
      (1L, Array.fill(64)(1f), 0),
      (2L, Array.fill(64)(-1f), 1))
      .toDF("vec_id", "embedding", "label")
    val b = SimilarityOps.lshBuckets(vecs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) === b(1L))
    assert(b(0L) !== b(2L)) // antipodal vectors flip every sign bit
  }

  test("langId picks the language with most marker hits, en wins ties") {
    val df = docsDf(
      1L -> "the cat of the house is big",
      2L -> "le chat et la maison des gens",
      3L -> "xyz qrs") // no markers
    val out = TextOps.langId(df).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "fr")
    assert(out(3L) === "und")
  }

  test("winnowing fingerprints: shared text shares fingerprint hashes") {
    val df = docsDf(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely unrelated content here")
    val fps = TextOps.fingerprints(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp"))
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).toSet }
    assert(fps(1L) === fps(2L))
    assert((fps(1L) intersect fps(3L)).isEmpty)
    // 63-bit masked so every value is signed-int64-safe cross-engine
    assert(fps.values.flatten.forall(_ >= 0L))
  }

  test("sliding mins (monotonic deque) equals the naive sliding window") {
    val rng = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val n = 1 + rng.nextInt(40)
      val w = 1 + rng.nextInt(math.min(n, 8))
      val hs = Array.fill(n)(rng.nextLong())
      if (n >= w)
        assert(TextOps.slidingMins(hs, w).toSeq ===
          hs.sliding(w).map(_.min).toSeq)
    }
  }

  test("top-k aggregator: map-side partial heaps merge to the exact top-k") {
    val scored = (1L to 500L).map(i => (1L, i, (i % 97).toDouble))
      .toDF("query_id", "neighbor_id", "score")
    val out = SimilarityOps.rankTopK(scored.repartition(8), 5).collect()
    // best score 96 at the smallest neighbor ids having i % 97 == 96
    val expect = (1L to 500L).map(i => (i, (i % 97).toDouble))
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === expect)
    assert(out.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
  }

  test("global top pairs: identical vectors rank first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1),
      (3L, Array(0.6f, 0.8f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.topPairs(vecs).collect()
    assert(top.head.getAs[Long]("vec_a") === 0L)
    assert(top.head.getAs[Long]("vec_b") === 1L)
    // all 6 pairs of the 4 vectors fit in the top 100
    assert(top.map(_.getAs[Int]("rank")).toSeq === (1 to 6))
  }

  test("top pairs: identical-vector collapse is bit-identical to the " +
    "uncollapsed kernel across k and partition layouts") {
    // planted dup clusters (sizes 1/2/3/5) over deterministic vectors,
    // non-dense ids so rep selection is exercised off the identity layout
    val rnd = new scala.util.Random(7)
    val distinct = (0 until 12).map(_ => Array.fill(8)(rnd.nextFloat()))
    val sizes = Seq(5, 1, 3, 2, 1, 2, 1, 3, 1, 2, 5, 1)
    var id = 3L
    val rows = distinct.zip(sizes).flatMap { case (v, c) =>
      (0 until c).map { _ => id += 7; (id, v, 0) }
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    // floor 0 forces the collapsed branch despite tiny N; Int.MaxValue
    // is the brute kernel
    def both(src: org.apache.spark.sql.DataFrame, k: Int) = (
      SimilarityOps.topPairsWithFloor(src, k, SimilarityOps.BruteRowLimit, 0)
        .collect().map(_.toSeq).toSeq,
      SimilarityOps.topPairsWithFloor(src, k, SimilarityOps.BruteRowLimit,
        Int.MaxValue).collect().map(_.toSeq).toSeq)
    for (k <- Seq(1, 3, 10, 40, 200); parts <- Seq(1, 5)) {
      val src = if (parts == 1) df else df.repartition(parts)
      val (a, b) = both(src, k)
      assert(a.nonEmpty && a === b, s"k=$k parts=$parts")
    }
    // degenerate inputs: zero rows, one row, two identical rows
    val v = distinct.head
    for ((name, rows, pairs) <- Seq(("zero rows", Seq.empty[(Long, Array[Float], Int)], 0),
        ("one row", Seq((5L, v, 0)), 0),
        ("two identical rows", Seq((5L, v, 0), (9L, v, 0)), 1))) {
      val (a, b) = both(rows.toDF("vec_id", "embedding", "label"), 10)
      assert(a === b, name)
      assert(a.length === pairs, name)
    }
  }

  test("k <= 0: every bounded top-k op returns an empty frame with the " +
    "k = 1 schema (the row_number() <= k oracle's answer)") {
    // two distinct vectors, three members each: 2·D² < N², so
    // a collapse floor of 0 really takes the collapsed branch
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0.6f, 0.8f, 0f, 0f)
    val vecs = Seq((0L, a), (1L, a), (2L, b), (3L, a), (4L, b), (5L, b))
      .toDF("vec_id", "embedding")
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "topPairs collapsed" -> (k => SimilarityOps.topPairsWithFloor(vecs, k,
        SimilarityOps.BruteRowLimit, 0)),
      "topPairs brute" -> (k => SimilarityOps.topPairsWithFloor(vecs, k,
        SimilarityOps.BruteRowLimit, Int.MaxValue)))
    for ((name, op) <- ops; k <- Seq(-1, 0)) {
      val one = op(1)
      assert(one.collect().nonEmpty, name)
      val out = op(k)
      assert(out.schema === one.schema, s"$name k=$k")
      assert(out.collect().isEmpty, s"$name k=$k")
    }
  }

  test("brute-force baselines refuse oversized inputs: the row-count " +
    "guard trips BEFORE any driver collect, naming the scale path") {
    val vecs = (0L until 8L).map(i => (i, Array(i.toFloat, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      SimilarityOps.topPairs(vecs, maxBroadcastRows = 4))
    assert(e1.getMessage.contains("exactness BASELINE"))
    assert(e1.getMessage.contains("embeddingNearDups"))
    val e2 = intercept[IllegalArgumentException](
      SimilarityOps.thresholdPairs(vecs, minCosine = 0.9,
        maxBroadcastRows = 4))
    assert(e2.getMessage.contains("refuses > 4 rows"))
    // at or below the limit the baseline still runs: all 6 pairs of 4 rows
    assert(SimilarityOps.topPairs(vecs.limit(4),
      maxBroadcastRows = 4).count() === 6L)
  }

  test("embedding near-dups: planted near-identical vectors found via LSH") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val vecs = Seq((0L, base, 0), (1L, near, 0), (2L, far, 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = SimilarityOps.embeddingNearDups(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("embedding near-dups from a dumped bucket index match the direct " +
    "path (p40's oracle contract)") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 40L).map { i =>
      val base = Array.tabulate(64)(j => math.sin(i / 4 * 64 + j).toFloat)
      base(rng.nextInt(64)) += 0.02f // 4-member near-dup families
      (i, base, 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-lshmulti").toString
    SimilarityOps.lshBucketsMulti(vecs)
      .write.mode("overwrite").parquet(dir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = pairSet(
      SimilarityOps.embeddingNearDups(vecs).select("vec_a", "vec_b"))
    val fromDump = pairSet(
      SimilarityOps.embeddingNearDupsFrom(vecs, spark.read.parquet(dir))
        .select("vec_a", "vec_b"))
    assert(direct.nonEmpty)
    assert(fromDump === direct)
  }

  test("ann top-k plan: partial aggregation map-side, no window exchange") {
    val vecs = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val plan = SimilarityOps.bruteTopK(vecs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window reducer in plan:\n$plan")
    assert(plan.contains("Aggregate"), s"no aggregate in plan:\n$plan")
  }

  test("minhash LSH shuffle volume stays below the corpus text volume") {
    // round 1 shuffled each doc's full shingle array through all 16 bands
    // (~16× shingle volume ≈ 48× text); the band-key shape must keep total
    // shuffle writes under 1× text volume (bands are 24 B/doc/band and the
    // candidate verify joins broadcast the tiny candidate set).
    val rng = new scala.util.Random(3)
    val rows = (1L to 300L).map { i =>
      (i, Array.fill(1000)(s"w${rng.nextInt(5000)}").mkString(" "))
    }
    val textBytes = rows.map(_._2.length.toLong).sum
    val sc = spark.sparkContext
    val df = spark.createDataFrame(sc.parallelize(rows, 4)).toDF("doc_id", "text")
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          acc.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try {
      DedupOps.minhashLsh(df).write.format("noop").mode("overwrite").save()
      // listener events are async; wait for the byte count to settle
      var last = -1L
      var settled = 0
      while (settled < 3) {
        Thread.sleep(200)
        val v = acc.get()
        if (v == last) settled += 1 else { settled = 0; last = v }
      }
      val shuffled = acc.get()
      assert(shuffled > 0, "expected some shuffle (band join)")
      assert(shuffled < textBytes,
        s"shuffle wrote $shuffled B for $textBytes B of text — payload leak")
    } finally sc.removeSparkListener(listener)
  }

  test("bloom semi-join reduction: same rows as the plain join, ≥5× fewer " +
    "records through the shuffle") {
    // 20k probe rows, 50 build keys (1 in 400 matches): the probe side's
    // exchange should carry ~matches + fpp·|probe|, not all 20k rows
    val large = spark.range(0, 20000)
      .select(col("id").as("k"), (col("id") * 7 % 1000).as("payload"))
    val small = spark.range(0, 50).select((col("id") * 400).as("k"),
      lit("dim").as("tag"))
    val sc = spark.sparkContext
    def shuffleRecords(run: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            acc.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      sc.addSparkListener(listener)
      try {
        run
        var last = -1L
        var settled = 0
        while (settled < 3) {
          Thread.sleep(200)
          val v = acc.get()
          if (v == last) settled += 1 else { settled = 0; last = v }
        }
        acc.get()
      } finally sc.removeSparkListener(listener)
    }
    // force the shuffle-join path — the operator exists for the case where
    // the build side is too big to broadcast whole but its BLOOM FILTER
    // (fixed-size bits) still is
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plainRows = large.join(small, "k").collect().toSet
      val plainShuffled = shuffleRecords(
        large.join(small, "k").write.format("noop").mode("overwrite").save())
      val reduced = graft.ops.BloomJoin.bloomReducedJoin(large, small, "k")
      assert(reduced.collect().toSet === plainRows)
      val bloomShuffled = shuffleRecords(
        graft.ops.BloomJoin.bloomReducedJoin(large, small, "k")
          .write.format("noop").mode("overwrite").save())
      assert(plainShuffled >= 20000, s"plain join shuffled $plainShuffled")
      assert(bloomShuffled * 5 < plainShuffled,
        s"bloom filter did not reduce the shuffle: $bloomShuffled vs $plainShuffled")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("IVF: planted clusters separate; top-k retrieves within-cell order") {
    import graft.ops.IvfOps
    val rng = new scala.util.Random(11)
    // two well-separated centers, 20 points each, in 8 dims
    def around(center: Array[Double], id: Long) =
      (id, center.map(c => (c + rng.nextGaussian() * 0.05).toFloat), 0)
    val c1 = Array.fill(8)(5.0)
    val c2 = Array.fill(8)(-5.0)
    // even ids around c1, odd ids around c2: the 16 seed centroids (the
    // first 16 ids) cover both clusters, so no cell mixes them
    val vecs = (0L until 40L)
      .map(i => around(if (i % 2 == 0) c1 else c2, i))
      .toDF("vec_id", "embedding", "label")
    val centroids = IvfOps.train(vecs)
    val cells = IvfOps.assign(vecs, centroids).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (evenCells, oddCells) = cells.partition(_._1 % 2 == 0)
    assert(evenCells.values.toSet.intersect(oddCells.values.toSet).isEmpty)
    // train → assign → probe → rank, as the queries run the steps
    val assigned = IvfOps.assign(vecs, centroids)
    def ivfTopK(nprobe: Int) = IvfOps.topKFrom(vecs, assigned,
      IvfOps.probes(vecs, centroids, nprobe))
    // queries 0..9 probe their own cell first; neighbors stay in-cluster
    val top = ivfTopK(nprobe = 1).collect()
    assert(top.nonEmpty)
    assert(top.forall(r => r.getLong(0) % 2 == r.getAs[Long]("neighbor_id") % 2))
    // IVF with nprobe=all cells equals brute force
    val full = ivfTopK(nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = SimilarityOps.bruteTopK(vecs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full === brute)
  }

  test("as-of join picks the latest right row at or before each left ts") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val left = Seq( // (key, ts, id)
      (1L, t(5), 100L), (1L, t(10), 101L), (1L, t(1), 102L),
      (2L, t(3), 200L)).toDF("key", "ts", "id")
    val right = Seq(
      (1L, t(2), 900L), (1L, t(5), 901L), (1L, t(9), 902L),
      (3L, t(1), 999L)).toDF("key", "ts", "id")
    val out = graft.ops.AsOfJoin.join(left, right).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out(100L) === 901L) // inclusive: right at the same ts wins
    assert(out(101L) === 902L)
    assert(out(102L) === -1L)  // no right at or before
    assert(out(200L) === -1L)  // key has no right rows at all
  }

  test("as-of tolerance rejects stale matches but keeps the boundary (inclusive)") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val left = Seq( // (key, ts, id)
      (1L, t(5), 100L),   // latest right is 3 min old — within 10-min SLA
      (1L, t(19), 101L),  // latest right is exactly 10 min old — inclusive
      (1L, t(30), 102L),  // latest right is 21 min old — stale, nulled
      (2L, t(3), 200L))   // key has no right rows at all
      .toDF("key", "ts", "id")
    val right = Seq(
      (1L, t(2), 900L), (1L, t(9), 901L)).toDF("key", "ts", "id")
    val out = graft.ops.AsOfJoin.join(left, right,
        toleranceMicros = Some(10L * 60L * 1000000L)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out(100L) === 900L)
    assert(out(101L) === 901L) // exactly at the bound still matches
    assert(out(102L) === -1L)  // stale: nulled, NOT served from further back
    assert(out(200L) === -1L)
    // tolerance=None degrades to the plain as-of join
    val plain = graft.ops.AsOfJoin.join(left, right).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(plain(102L) === 901L)
  }

  test("budget waterfill: exact budget, row-wise caps, max-min fairness") {
    import graft.ops.CorpusOps
    // supplies: a=2, b=5, c=11, d=30 tokens → total=48, budget=48*2/5=19
    // k: cost_1=2+... sorted (a=2,b=5,c=11,d=30): cost_a=2*4=8≤19 ✓;
    // cost_b=2+5*3=17≤19 ✓; cost_c=7+11*2=29>19 ✗ → k=2, pk=7,
    // lev=(19-7)/2=6, rem=0 → a=2, b=5, c=6, d=6; sum=19 ✓
    val df = Seq(
      (1L, "t1 t2", "a"), (2L, "t1 t2 t3 t4 t5", "b"),
      (3L, (1 to 11).map("x" + _).mkString(" "), "c"),
      (4L, (1 to 30).map("y" + _).mkString(" "), "d"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.budgetWaterfill(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") === (2L, 2L, 1L))
    assert(out("b") === (5L, 5L, 1L))
    assert(out("c") === (11L, 6L, 0L))
    assert(out("d") === (30L, 6L, 0L))
    assert(out.values.map(_._2).sum === 48L * 2L / 5L)
    // remainder path: d with 32 tokens → total 50, B = 50*2/5 = 20,
    // k=2, pk=7, lev=(20-7)/2=6, rem=1 → bump goes to c (first
    // unsaturated in supply-asc order), not d
    val df2 = df.where(col("source") =!= "d").unionByName(
      Seq((4L, (1 to 32).map("y" + _).mkString(" "), "d"))
        .toDF("doc_id", "text", "source"))
    val out2 = CorpusOps.budgetWaterfill(df2)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out2 === Map("a" -> 2L, "b" -> 5L, "c" -> 7L, "d" -> 6L))
    assert(out2.values.sum === 20L)
  }

  test("EWMA recurrence scan replays the exact integer trajectory in event order") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // user 1 cents [80, 160, 40]: s1=80, s2=(160+7·80)/8=90,
    // s3=(40+7·90)/8=⌊83.75⌋=83; rows arrive ts-shuffled, and the last two
    // share a ts — event_id must break the tie
    val ev = Seq(
      (1L, 103L, t(9), "a", 1.60),
      (1L, 101L, t(5), "a", 0.80),
      (1L, 104L, t(9), "a", 0.40), // same ts as 103, higher event_id → last
      (2L, 201L, t(1), "b", 2.00))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val out = graft.ops.EventOps.ewmaScan(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === (3L, 83L))
    assert(out(2L) === (1L, 200L))
  }

  test("b-bit minhash: bit estimator tracks the full-lane estimator on near-dups") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"token$i").mkString(" ")
    val df = docsDf(1L -> base, 2L -> nearDup)
    val out = DedupOps.minhashEstimates(df, bbit = true).collect()
    assert(out.length === 1)
    val r = out.head
    val (estPct, nBit, estB) = (r.getAs[Long]("est_pct"),
      r.getAs[Long]("n_bit_match"), r.getAs[Long]("est_bbit_pct"))
    // matching lanes agree on the low bit too, so n_bit ≥ n_match and the
    // clamped 2r−1 estimate is a valid [0,100] percentage
    assert(nBit >= r.getAs[Long]("n_match"))
    assert(estB >= 0L && estB <= 100L)
    assert(estPct >= 60L) // sanity: full-lane estimator sees a near-dup
    // bit estimator formula pin: max(0, n_bit·200/16 − 100)
    assert(estB === math.max(0L, nBit * 200L / 16L - 100L))
  }

  test("PQ: codes compress, ADC ranking recovers exact neighbors on separated clusters") {
    import graft.ops.PqOps
    // two well-separated clusters in 32 dims (4 subspaces of 8): PQ with
    // 16 codes per subspace must rank in-cluster vectors above the other
    // cluster for every query
    val df = pqClusters()
    val cb = PqOps.train(df)
    assert(cb.length === 4 && cb(0).length === 16 && cb(0)(0).length === 8)
    val codes = PqOps.encode(df, cb)
    assert(codes.count() === 24L * 4)
    // cross-cluster vectors differ in their codes
    val byVec = codes.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    assert(byVec(0L) !== byVec(23L))
    val out = PqOps.adcRecallFrom(df, codes, PqOps.codebookDf(spark, cb))
      .collect()
    assert(out.length === 10)
    out.foreach { r =>
      // clusters are far apart vs quantization error, so both rank-1s are
      // in-cluster and both top-10s are 10 of the query's 11 cluster
      // mates: they share at least 9
      val q = r.getLong(0)
      assert(r.getLong(1) >= 9L, s"recall@10 for query $q")
      assert(r.getLong(2) % 2 === q % 2 && r.getLong(3) % 2 === q % 2)
    }
  }

  /** Two well-separated clusters of 12 in 32 dims, interleaved by id
    * parity (so the first 16 ids, the PQ seeds, cover both). */
  private def pqClusters() = (0 until 24).map { i =>
    val base = if (i % 2 == 0) 0.5 else -0.5
    val v = Array.tabulate(32)(d => (base + (i / 2) * 0.001 + d * 0.0001).toFloat)
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("chunk pooling: integer floor-mean per dim, one row per (group, dim)") {
    import graft.ops.PqOps
    // dyadic coordinates so the grid is exact: q = (250·i, −250·i)
    val vecs = (0 until 10).map(i =>
      (i.toLong, Array(i * 0.25f, -i * 0.25f))).toDF("vec_id", "embedding")
    val out = PqOps.chunkPooling(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // group 0 = ids 0..4: Σ250i = 2500 → 500; negative side floors to −500
    assert(out((0L, 0L)) === 500L)
    assert(out((0L, 1L)) === -500L)
    // group 1 = ids 5..9: Σ = 8750 → 1750
    assert(out((1L, 0L)) === 1750L)
    assert(out((1L, 1L)) === -1750L)
    assert(out.size === 4)
  }

  test("vector QA buckets NaN, zero and healthy vectors separately") {
    import graft.ops.PqOps
    val vecs = Seq(
      (1L, Array(0.5f, 0.5f)),                 // norm2 = 500²·2 → bucket 18
      (2L, Array(Float.NaN, 1.0f)),            // NaN → -2
      (3L, Array(0.0f, 0.0f)),                 // zero → -1
      (4L, Array(Float.PositiveInfinity, 0f)), // Inf → -2
      (5L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = PqOps.vectorQa(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((2L, -2L)) === 2L)
    assert(out((2L, -1L)) === 1L)
    // 500² · 2 = 500000, bitlen(500000) = 19 → bucket 18
    assert(out((2L, 18L)) === 2L)
  }

  test("PQ rerank, prefix and drift audits behave on the separated-cluster fixture") {
    import graft.ops.PqOps
    val df = pqClusters()
    val cb = PqOps.train(df)
    val codes = PqOps.encode(df, cb)
    val cbDf = PqOps.codebookDf(spark, cb)
    // two-stage: 50 ADC candidates cover all 23 other vectors → exact
    // re-rank recovers the exact top-10 perfectly (ties resolved by stage 2)
    val rr = PqOps.rerankRecall(df, codes, cbDf).collect()
    assert(rr.length === 10)
    rr.foreach(r => assert(r.getLong(1) === 10L,
      s"rerank recall for query ${r.getLong(0)}"))
    // Matryoshka: a 16-dim prefix of this fixture still separates
    // clusters, so both top-10s are 10 of the 11 cluster mates
    val pr = PqOps.prefixRecall(df).collect()
    pr.foreach { r =>
      val q = r.getLong(0)
      assert(r.getLong(1) >= 9L)
      assert(r.getLong(2) % 2 === q % 2 && r.getLong(3) % 2 === q % 2)
    }
    // drift: codebook trained on even ids only still reconstructs both
    // cohorts; two rollup rows, errors non-negative
    val even = df.where(col("vec_id") % 2 === 0)
    val cbOld = PqOps.train(even)
    val drift = PqOps.driftAudit(df, PqOps.encode(df, cbOld),
      PqOps.codebookDf(spark, cbOld)).collect()
    assert(drift.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    drift.foreach { r =>
      assert(r.getLong(1) === 12L)
      assert(r.getLong(2) >= 0L && r.getLong(3) >= 0L)
      assert(r.getLong(3) === r.getLong(2) / 12L)
    }
  }

  test("range join finds exactly the rights within the window (bucket edges)") {
    import java.sql.Timestamp
    def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
    val W = 60L * 1000000L // 60s window
    val left = Seq((1L, t(120), 10L)).toDF("key", "ts", "id")
    val right = Seq(
      (1L, t(59), 90L),   // just outside (61s before)
      (1L, t(60), 91L),   // exactly window edge — inclusive
      (1L, t(100), 92L),  // inside, previous bucket
      (1L, t(120), 93L),  // same instant — inclusive
      (1L, t(121), 94L),  // after left — excluded
      (2L, t(110), 95L))  // other key
      .toDF("key", "ts", "id")
    val got = graft.ops.RangeJoin.join(left, right, W).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 91L), (10L, 92L), (10L, 93L)))
  }

  test("token DF: doc_freq counts documents, term_freq counts occurrences") {
    import graft.ops.CorpusOps
    val out = CorpusOps.tokenDf(docsDf(
      1L -> "a b a", 2L -> "a c")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a") === (2L, 3L))
    assert(out("b") === (1L, 1L))
    assert(out("c") === (1L, 1L))
  }

  test("PII scrub masks emails and long digit runs, counts them") {
    import graft.ops.CorpusOps
    val out = CorpusOps.piiScrub(docsDf(
      1L -> "mail me at a.b@x.io or call 0123456789 maybe 42")).collect()(0)
    assert(out.getAs[Int]("n_emails") === 1)
    assert(out.getAs[Int]("n_phones") === 1)
    // scrubbed text of an identical doc with pre-masked tokens hashes equal
    val masked = CorpusOps.piiScrub(docsDf(
      2L -> "mail me at <EMAIL> or call <PHONE> maybe 42")).collect()(0)
    assert(out.getAs[String]("scrubbed_md5") === masked.getAs[String]("scrubbed_md5"))
  }

  test("repetition stats: top bigram repetition and distinct tokens") {
    import graft.ops.CorpusOps
    val out = CorpusOps.repetitionStats(docsDf(
      1L -> "spam ham spam ham spam", 2L -> "all words differ here")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) === (5, 2, 2)) // "spam ham" repeats twice
    assert(out(2L) === (4, 4, 1))
  }

  test("count-min sketch: point estimates upper-bound true frequencies") {
    import graft.ops.CorpusOps
    val df = docsDf(1L -> "x x x y z", 2L -> "x y y w")
    val cells = CorpusOps.countMinSketch(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // every row's total mass equals total token count
    (0 until 4).foreach { r =>
      assert(cells.collect { case ((`r`, _), n) => n }.sum === 9L)
    }
    // point estimate (min over rows) >= true count, and == with no collisions
    def estimate(t: String): Long = (0 until 4).map { r =>
      val b = (graft.ops.TextOps.md5Low63(t + "#" + r) % 256).toInt
      cells.getOrElse((r, b), 0L)
    }.min
    assert(estimate("x") >= 4L)
    assert(estimate("y") >= 3L)
    assert(estimate("absent") >= 0L)
  }

  test("multimodal kernel: every media span decoded with stable metadata") {
    val docs = graft.io.Synthesizer.docs(spark, 50, 42L)
    val media = MultimodalOps.mediaTable(docs).collect()
    val expected = docs.collect().flatMap(_.spans.filter(_.kind == "media")).length
    assert(media.length === expected)
    assert(media.forall(m => m.width >= 640 && m.height >= 480 &&
      (m.format == "jpeg" || m.format == "png") && m.feature.length == 8))
    // deterministic: same ref ⇒ same metadata
    val m0 = media.head
    val again = MultimodalOps.fakeDecode(m0.media_ref, Array.empty)
    assert(again._1 === m0.width && again._4 === m0.n_frames &&
      again._5.toSeq === m0.feature.toSeq)
  }

  /** Independent scalar dHash: grid cell i = (byte[i mod len]·37 + 11·i)
    * mod 256, bit per horizontal gradient. */
  private def refDHash(s: String): Long = {
    val b = s.getBytes("UTF-8")
    def cell(i: Int) = ((b(i % b.length) & 0xff) * 37 + 11 * i) & 0xff
    (0 until 64).foldLeft(0L) { (h, k) =>
      val base = (k / 8) * 9 + k % 8
      if (cell(base) < cell(base + 1)) h | (1L << k) else h
    }
  }

  test("dHash: matches the scalar reference, and a one-char payload edit " +
    "moves few bits (the perceptual-locality property banding relies on)") {
    import graft.functions.functions.d_hash64
    val refs = Seq("m:aadhaar:2:1234", "m:aadhaar:2:1235", "m:pan:0:9",
      "m:marksheet:1:777777", "x")
    val got = refs.toDF("ref")
      .select(col("ref"), d_hash64(col("ref")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    refs.foreach(r => assert(got(r) === refDHash(r), r))
    // near payloads → near hashes; far payloads → far hashes
    val near = java.lang.Long.bitCount(
      got("m:aadhaar:2:1234") ^ got("m:aadhaar:2:1235"))
    val far = java.lang.Long.bitCount(
      got("m:aadhaar:2:1234") ^ got("m:marksheet:1:777777"))
    assert(near <= 12 && far > near)
  }

  test("phash near-dups: banded join reproduces the exact all-pairs " +
    "hamming answer (pigeonhole recall 1.0) and is layout-invariant") {
    val docs = graft.io.Synthesizer.docs(spark, 120, 42L)
    val dump = "/tmp/graft_phash_refs_spec"
    val got = MultimodalOps.phashNearDupsDumped(docs, dump)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    val refs = docs.collect()
      .flatMap(_.spans.filter(_.kind == "media").map(_.media_ref))
      .distinct.sorted
    val brute = for {
      i <- refs.indices; j <- (i + 1) until refs.length
      d = java.lang.Long.bitCount(refDHash(refs(i)) ^ refDHash(refs(j)))
      if d <= 3
    } yield (refs(i), refs(j), d.toLong)
    assert(got === brute.sortBy(p => (p._1, p._2)))
    assert(got.nonEmpty) // the corpus must actually exercise the join
    val got2 = MultimodalOps.phashNearDupsDumped(
      graft.io.Synthesizer.docs(spark, 120, 42L).repartition(7), dump)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got2 === got)
  }

  test("phash near-dups: hash-identical collapse is output-identical and " +
    "the band-bucket cap trips as a pure recall trade") {
    // the r4 scale fix: the band join runs over distinct-hash reps with
    // exact-dup pairs emitted arithmetically. The brute-equality test
    // above already pins losslessness at the 4096 cap; here: (1) a
    // CONSTRUCTED hash-identical group (the dHash grid samples byte
    // positions 0..71 only, so distinct refs differing past byte 72
    // share the full 64-bit hash — the exact-dup-cluster shape the
    // collapse exists for) comes out as its 3 hamming-0 pairs, and
    // (2) a cap of 1 (the `phashNearDupsCapped` kernel; no test corpus
    // fills a 4096-rep bucket) drops every cross-hash candidate (every
    // bucket with ≥2 reps is pruned) while hash-identical pairs survive
    // untouched — the documented p25-style recall trade, never a
    // correctness change on the kept pairs
    import spark.implicits._
    val pad = "m:pad:" + "x" * 66 // 72 chars: every sampled position fixed
    val collide = Seq("A", "B", "C").map(pad + _)
    val planted = Seq(graft.model.Doc("dup1",
      collide.map(r => graft.model.Span("media", "", r, 0))))
    val docs = graft.io.Synthesizer.docs(spark, 120, 42L)
      .union(planted.toDS())
    val collidePairs = for {
      i <- collide.indices; j <- (i + 1) until collide.length
    } yield (collide(i), collide(j), 0L)
    val dump = "/tmp/graft_phash_refs_spec_cap"
    val full = MultimodalOps.phashNearDupsDumped(docs, dump)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    val exactDups = full.filter(_._3 == 0L)
    val crossDups = full.filter(_._3 > 0L)
    assert(crossDups.nonEmpty) // the banded path is actually exercised
    // the planted collision group surfaces as exactly its 3 zero-pairs
    assert(collidePairs.forall(exactDups.contains), exactDups.take(5))
    val capped = MultimodalOps.phashNearDupsCapped(docs, dump,
        maxBandBucket = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(capped.filter(_._3 == 0L) === exactDups)
    assert(capped.toSet.subsetOf(full.toSet)) // cap only ever DROPS pairs
    assert(capped.count(_._3 > 0L) < crossDups.size)
  }

  test("hll registers: independent re-derivation + estimate within HLL error") {
    val docs = docsDf(
      1L -> (1 to 300).map(i => s"word$i").mkString(" "),
      2L -> (200 to 500).map(i => s"word$i").mkString(" "),
      3L -> "word1 word2 word3")
    val regs = graft.ops.CorpusOps.hllRegisters(docs).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Int]("max_rho")).toMap
    // independent brute-force re-derivation over the distinct vocabulary
    val vocab = (1 to 500).map(i => s"word$i").toSet
    val expected = scala.collection.mutable.Map.empty[Int, Int]
    vocab.foreach { t =>
      val h = graft.ops.TextOps.md5Low63(t)
      val b = (h & 63L).toInt
      val v = h >>> 6
      val rho = if (v == 0L) 58 else 58 - (64 - java.lang.Long.numberOfLeadingZeros(v))
      if (rho > expected.getOrElse(b, 0)) expected(b) = rho
    }
    assert(regs === expected.toMap)
    // harmonic-mean estimate within the ~1.04/sqrt(64)=13% HLL band (3σ)
    val m = 64
    val z = 1.0 / (0 until m).map(b => math.pow(2.0, -regs.getOrElse(b, 0))).sum
    val est = 0.709 * m * m * z
    assert(math.abs(est - vocab.size) / vocab.size < 0.4, s"estimate $est vs 500")
  }

  test("bloom filter: no false negatives; mergeable across partitions") {
    val docs = docsDf(
      1L -> (1 to 50).map(i => s"tok$i").mkString(" "),
      2L -> (51 to 100).map(i => s"tok$i").mkString(" "))
      .repartition(4) // exercises partial-buffer merge
    val words = graft.ops.CorpusOps.bloomFilter(docs).collect()
      .map(r => r.getAs[Int]("word_idx") -> r.getAs[Long]("bits")).toMap
    def bitSet(bit: Int): Boolean =
      ((words.getOrElse(bit / 32, 0L) >> (bit % 32)) & 1L) == 1L
    // every inserted token's k=3 bits are set (bloom invariant)
    (1 to 100).foreach { i =>
      (0 until 3).foreach { j =>
        val bit = (graft.ops.TextOps.md5Low63(s"tok$i!$j") % 2048).toInt
        assert(bitSet(bit), s"missing bit for tok$i hash $j")
      }
    }
    // not saturated: 100 tokens × 3 bits < 300 of 2048 bits
    val popcount = words.values.map(java.lang.Long.bitCount).sum
    assert(popcount <= 300 && popcount > 100)
  }

  test("exact jaccard pairs: planted near-dup found with exact set sizes") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val out = graft.ops.DedupOps.exactJaccardPairs(
      docsDf(1L -> base, 2L -> nearDup, 3L -> other)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    // 40 tokens → 38 shingles; changing token 7 kills shingles 5,6,7
    assert(r.getAs[Long]("n_inter") === 35L)
    assert(r.getAs[Long]("n_union") === 41L)
  }

  test("df-capped jaccard: same pairs as uncapped when overlap is content, " +
    "fewer records through the shuffle") {
    // 120 docs share a 12-token boilerplate block (stop-shingles, df=120)
    // and carry unique tails (pairwise Jaccard ≪ 50%); one planted near-dup
    // pair overlaps on CONTENT shingles (df=2). Capping df at 5 must drop
    // the stop-shingle postings — and with them the ~120²/2-pairs-per-key
    // join fan-out feeding the pair aggregation — while reproducing the
    // exact uncapped pair set, since the planted pair's overlap survives
    // the cap. The capped path's own extra shuffles (keys-only df agg +
    // semi-join) are linear in postings, far below the quadratic fan-out.
    val boiler = (1 to 12).map(i => s"common$i").mkString(" ")
    val crowd = (1 to 120).map { i =>
      (i.toLong, boiler + " " + (1 to 20).map(j => s"u${i}_$j").mkString(" "))
    }
    val base = (1 to 40).map(i => s"pair$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"pair$i").mkString(" ")
    val docs = docsDf(crowd ++ Seq(100L -> base, 101L -> nearDup): _*)

    val sc = spark.sparkContext
    def shuffleRecords(run: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            acc.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      sc.addSparkListener(listener)
      try {
        run
        var last = -1L
        var settled = 0
        while (settled < 3) {
          Thread.sleep(200)
          val v = acc.get()
          if (v == last) settled += 1 else { settled = 0; last = v }
        }
        acc.get()
      } finally sc.removeSparkListener(listener)
    }

    def rows(maxDf: Option[Int]) = graft.ops.DedupOps
      .exactJaccardPairs(docs, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))).toSet
    val uncapped = rows(None)
    assert(uncapped.map(p => (p._1, p._2)) === Set((100L, 101L)))
    assert(rows(Some(5)) === uncapped) // exact same pairs, sizes included
    val recUncapped = shuffleRecords(graft.ops.DedupOps
      .exactJaccardPairs(docs)
      .write.format("noop").mode("overwrite").save())
    val recCapped = shuffleRecords(graft.ops.DedupOps
      .exactJaccardPairs(docs, maxDf = Some(5))
      .write.format("noop").mode("overwrite").save())
    assert(recCapped < recUncapped,
      s"df cap did not cut the shuffle: $recCapped vs $recUncapped")
  }

  test("prefix-filtered jaccard: identical to the full inverted-index join; " +
    "stop-shingles (df=120) generate zero candidate pairs") {
    // same crowd shape as the df-cap spec: 120 docs share a boilerplate
    // block and carry unique tails; one planted CONTENT near-dup pair.
    // Crowd ids offset past 101 — doc_id is the per-doc prefix key, so a
    // collision with the planted pair would merge two docs' shingle sets
    val boiler = (1 to 12).map(i => s"common$i").mkString(" ")
    val crowd = (1 to 120).map { i =>
      (200L + i, boiler + " " + (1 to 20).map(j => s"u${i}_$j").mkString(" "))
    }
    val base = (1 to 40).map(i => s"pair$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"pair$i").mkString(" ")
    val docs = docsDf(crowd ++ Seq(100L -> base, 101L -> nearDup): _*)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))).toSet
    val full = rows(graft.ops.DedupOps.exactJaccardPairs(docs))
    val pref = rows(graft.ops.DedupOps.prefixFilteredJaccardPairs(docs))
    assert(full.map(p => (p._1, p._2)) === Set((100L, 101L)))
    assert(pref === full) // lossless, set sizes included
    // the crowd's only SHARED shingles are boilerplate (df=120): they sort
    // last in the (df, h) order and fall outside every 16-of-30 prefix, so
    // the candidate join emits ONLY the planted pair — not the ~120²/2
    // crowd pairs the full index must feed through its aggregation
    val cands = graft.ops.DedupOps.prefixJaccardCandidates(
      graft.ops.DedupOps.shingleHashTable(docs, 3), 50).collect()
    assert(cands.length === 1)
    assert(cands.head.getLong(0) === 100L && cands.head.getLong(1) === 101L)
  }

  test("exact-dup collapse is output-identical across the whole pair " +
    "family on a corpus with planted byte-identical clusters") {
    // the r5 sf10 lesson: dup clusters of 100 made the per-doc joins
    // quadratic (p113 spilled 50+ GB); the collapse runs the joins over
    // one rep per distinct text and expands arithmetically. Pin: for
    // exact/prefix/weighted Jaccard, minhashLsh and simhash, each op
    // equals its uncollapsed kernel row-for-row on a corpus where dup
    // clusters, a near pair, and singletons all coexist (incl. a near
    // pair BETWEEN clusters, which must score once per member
    // combination), and on the degenerate corpora.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 5) "CHANGED" else s"tok$i")
      .mkString(" ")
    val docs = docsDf(
      (Seq(1L, 2L, 3L, 4L).map(_ -> base) ++ // cluster A (4 copies)
        Seq(10L, 11L, 12L).map(_ -> near) ++ // cluster B (3 copies)
        Seq(20L -> "lonely text with no match at all",
          21L -> (1 to 30).map(i => s"other$i").mkString(" "))): _*)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.toSeq).toSet
    type Op = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    val cases = Seq[(String, Op, Op)](
      ("exact", d => DedupOps.exactJaccardPairs(d),
        d => DedupOps.exactJaccardPairsUncollapsed(d, 3, 50, None)),
      ("prefix", d => DedupOps.prefixFilteredJaccardPairs(d),
        d => DedupOps.prefixFilteredJaccardPairsUncollapsed(d, 3, 50, false)),
      ("weighted", d => DedupOps.weightedJaccardPairs(d),
        d => DedupOps.weightedJaccardPairsUncollapsed(d, 3, 50)),
      ("minhash", d => DedupOps.minhashLsh(d),
        d => DedupOps.minhashLshUncollapsed(d, 32, 3, 60)),
      ("simhash", d => DedupOps.simhashPairs(d),
        d => DedupOps.simhashPairsUncollapsed(d)))
    cases.foreach { case (name, collapsed, uncollapsed) =>
      degenerateDocs.foreach { case (corpus, d) =>
        val on = rows(collapsed(d))
        assert(on === rows(uncollapsed(d)), s"$name on $corpus")
        // two identical rows pair with each other, at most one row never
        assert(on.size === (if (corpus == "two identical rows") 1 else 0),
          s"$name on $corpus")
      }
      val on = rows(collapsed(docs))
      val off = rows(uncollapsed(docs))
      assert(on === off, s"$name collapse changed the output")
      val ids = on.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
      // the in-cluster pairs per C(n,2): 6 + 3 — the quadratic OUTPUT
      // the collapse must keep while removing the quadratic JOIN
      assert(ids.count(p => p._2 <= 4) === 6, name)
      assert(ids.count(p => p._1 >= 10 && p._2 >= 10) === 3, name)
      // A×B cross pairs exist per member combination (4×3 = 12) for the
      // Jaccard family (one token of 40 changed ⇒ above every threshold);
      // simhash's cross count depends on the signatures' hamming, so only
      // the equality above pins it
      if (name != "simhash")
        assert(ids.count(p => p._1 <= 4 && p._2 >= 10) === 12, name)
    }
  }

  test("df-capped pair ops under the exact-dup collapse: collapse=true " +
    "equals collapse=false for every cap (df counts DOCUMENTS, within-" +
    "cluster pairs obey the capped-intersection rule)") {
    // r6 fix of the r5 latent divergence (ADVICE #1): with maxDf set the
    // collapse used to (a) count df over distinct-text REPS instead of
    // documents and (b) emit within-cluster pairs unconditionally. The
    // planted corpus exercises both failure classes:
    //  - cluster A (4 identical docs): at cap 3 every shingle it carries
    //    has df ≥ 4, so A must emit NO pairs at all — the old code
    //    emitted all 6 within pairs at full score;
    //  - boilerplate phrase shared by clusters B, C and two singletons:
    //    its shingles' df is the MEMBER count (6), not the rep count (4),
    //    so caps between 4 and 5 must drop them — the old rep-df kept
    //    them alive;
    //  - cluster C (2 identical docs = boilerplate + tiny unique tail):
    //    once the boilerplate is capped away the pair's surviving
    //    intersection is tiny, so the capped-intersection THRESHOLD drops
    //    even this identical pair — unconditional within emission is
    //    wrong.
    val clusterA = (1 to 20).map(i => s"aa$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"bb$i").mkString(" ")
    val clusterB = boiler + " " + (1 to 10).map(i => s"cc$i").mkString(" ")
    val clusterC = boiler + " zz1"
    val docs = docsDf(
      (Seq(1L, 2L, 3L, 4L).map(_ -> clusterA) ++
        Seq(10L, 11L).map(_ -> clusterB) ++
        Seq(20L, 21L).map(_ -> clusterC) ++
        Seq(30L -> (boiler + " " + (1 to 8).map(i => s"dd$i").mkString(" ")),
          31L -> (boiler + " " + (1 to 8).map(i => s"ee$i").mkString(" ")),
          40L -> "lonely text with no shared content at all")): _*)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.toSeq).toSet
    for (cap <- Seq(1, 2, 3, 4, 5, 6, 100)) {
      // the degenerate corpora: cap 1 cuts the identical pair's shingles
      // (df 2 > 1), caps from 2 keep them
      degenerateDocs.foreach { case (corpus, d) =>
        assert(rows(DedupOps.exactJaccardPairs(d, maxDf = Some(cap))) ===
          rows(DedupOps.exactJaccardPairsUncollapsed(d, 3, 50, Some(cap))),
          s"exact maxDf=$cap on $corpus")
      }
      val exOn = rows(DedupOps.exactJaccardPairs(docs, maxDf = Some(cap)))
      val exOff = rows(DedupOps.exactJaccardPairsUncollapsed(docs, 3, 50,
        Some(cap)))
      assert(exOn === exOff, s"exact maxDf=$cap collapse changed output")
      val ids = exOn.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
      if (cap < 4) // cluster A larger than the cap: no pair may survive
        assert(!ids.exists(p => p._1 <= 4L || p._2 <= 4L),
          s"cap=$cap emitted a cluster-A pair")
      if (cap >= 6) // boilerplate df = 6 docs: all in-boiler pairs back
        assert(ids.contains((20L, 21L)), s"cap=$cap lost the C pair")
      if (cap == 4 || cap == 5)
        // boilerplate capped (df 6 > cap) but cluster-C's unique tail is
        // too small to clear the 50% threshold: the IDENTICAL pair
        // (20, 21) must be dropped by the capped-intersection rule
        assert(!ids.contains((20L, 21L)),
          s"cap=$cap kept the threshold-failing identical pair")
    }
  }

  test("weighted jaccard: repetition-divergent docs with identical token " +
    "SETS score below threshold; true duplicate pairs at 100%") {
    val docs = docsDf(
      1L -> "w1 w2 w3 w4",
      2L -> (Seq.fill(8)("w1") ++ Seq("w2", "w3", "w4")).mkString(" "),
      3L -> "w1 w2 w3 w4")
    val out = graft.ops.DedupOps.weightedJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("w_inter"), r.getAs[Long]("w_union"))).toSet
    // doc2's repetition inflates its shingle bag to 9 (6× "w1 w1 w1");
    // set-Jaccard(1,2) over distinct shingles is 2/4, bag = 2/9 — cut.
    // (1,3) is a true duplicate: 2/2
    assert(out === Set((1L, 3L, 2L, 2L)))
  }

  test("homoglyph skeleton collides Cyrillic-spoofed + zero-width variants; " +
    "byte-exact duplicates are excluded") {
    val docs = docsDf(
      1L -> "hello spam offer",
      2L -> "h\u0435llo sp\u0430m \u200Boffer", // Cyrillic e, a + ZWSP
      3L -> "unrelated text",
      4L -> "exact dup body",
      5L -> "exact dup body") // same bytes → p01's job, not this op's
    val out = graft.ops.CorpusOps.homoglyphDedup(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_docs") === 2L)
    assert(out.head.getAs[Long]("n_raw") === 2L)
    assert(out.head.getAs[Long]("keeper_doc_id") === 1L)
  }

  test("missing id ranges: block-local gaps, boundary gaps and a " +
    "fully-missing block recovered exactly") {
    // 256-id blocks: block 0 holds 0..17 with in-block gaps (18..255
    // crosses into block 1); 256/260 sit in block 1 (gap 257..259
    // in-block, 261..511 across the boundary);
    // block 2 holds 512..767; block 3 (768..1023) is entirely absent and
    // must surface inside the 768..1023 boundary gap before block 4
    val ids = (Seq(0L, 2L, 3L, 5L, 8L, 16L, 17L, 256L, 260L) ++
      (512L to 767L) ++ Seq(1024L)).toDF("doc_id")
    val out = graft.ops.ProfileOps.missingIdRanges(ids, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 1L), (4L, 4L), (6L, 7L), (9L, 15L),
      (18L, 255L), (257L, 259L), (261L, 511L), (768L, 1023L)))
  }

  test("rendezvous shards: growing 16 to 17 moves keys ONLY into the new " +
    "shard, and every resident of the new shard is a mover") {
    val docs = docsDf((0L until 200L).map(i => i -> s"t$i"): _*)
    val out = graft.ops.PackingOps.rendezvousShards(docs).collect()
    val movedShards = out.filter(_.getAs[Long]("n_moved") > 0).map(_.getLong(0))
    assert(movedShards.toSeq === Seq(16L)) // HRW minimal disruption
    val row16 = out.find(_.getLong(0) == 16L).get
    assert(row16.getAs[Long]("n_moved") === row16.getAs[Long]("n_docs"))
    assert(out.map(_.getAs[Long]("n_docs")).sum === 200L)
  }

  test("feistel shuffle: each epoch is an injective position assignment, " +
    "epochs are distinct permutations, and the census is repartition-stable") {
    val docs = docsDf((0L until 300L).map(i => i -> s"t$i"): _*)
    val out = graft.ops.PackingOps.feistelShuffle(docs).collect()
    // injectivity: positions never collide (equal positions would share a
    // shard, so per-shard distinct counts summing to the total proves it)
    assert(out.map(_.getAs[Long]("n_docs")).sum === 600L)
    assert(out.map(_.getAs[Long]("n_distinct_pos")).sum === 600L)
    out.foreach { r =>
      assert(r.getAs[Long]("n_distinct_pos") === r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("min_pos") >= 0L)
      assert(r.getAs[Long]("max_pos") < (1L << 32))
    }
    // different epochs permute differently: shard histograms must differ
    val byEpoch = out.groupBy(_.getAs[Long]("epoch")).view
      .mapValues(_.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_docs")))
        .toSeq.sorted).toMap
    assert(byEpoch.keySet === Set(0L, 1L))
    assert(byEpoch(0L) !== byEpoch(1L))
    // deterministic under physical layout changes
    val re = graft.ops.PackingOps.feistelShuffle(docs.repartition(7))
      .collect().map(_.toSeq).toSet
    assert(re === out.map(_.toSeq).toSet)
  }

  test("dense ranks: block-local numbering + offsets equal the global " +
    "row_number over sparse cross-block keys") {
    // 32-id blocks: {3, 10, 11} share block 0; 40 and 1000 sit alone
    val ids = Seq(3L, 10L, 11L, 40L, 1000L).toDF("doc_id")
    val out = graft.ops.ProfileOps.denseRanks(ids, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(3L -> 0L, 10L -> 1L, 11L -> 2L, 40L -> 3L,
      1000L -> 4L))
  }

  test("merkle diff: changed, missing-left and missing-right rows surface; " +
    "identical blocks contribute nothing") {
    val left = docsDf(1L -> "alpha", 2L -> "bravo", 3L -> "charlie",
      900L -> "far block")
    val right = docsDf(1L -> "alpha", 2L -> "bravo CHANGED",
      900L -> "far block", 5000L -> "right only")
    val out = graft.ops.CorpusOps.merkleDiff(
        left.select("doc_id", "text"), right.select("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((2L, "changed"), (3L, "missing_right"),
      (5000L, "missing_left")))
  }

  test("join-size plan: predicted per-key cardinality equals the executed " +
    "many-to-many join, one-sided keys absent, skew share exact") {
    // key 1: 3×4=12 rows (the skew key), key 2: 1×2=2, key 3 only in a,
    // key 4 only in b → both absent from the plan
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(1L, 1L, 1L, 1L, 2L, 2L, 4L).toDF("k")
    val plan = graft.ops.ProfileOps.joinSizePlan(a, b, "k").collect()
    assert(plan.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val byKey = plan.map(r => r.getLong(0) ->
      (r.getAs[Long]("rows_a"), r.getAs[Long]("rows_b"),
        r.getAs[Long]("join_rows"), r.getAs[Long]("share_ppm"))).toMap
    assert(byKey(1L) === ((3L, 4L, 12L, 857142L))) // 12/14 ppm, DIV floor
    assert(byKey(2L) === ((1L, 2L, 2L, 142857L)))
    // the prediction must equal the join Spark actually executes
    val real = a.join(b, "k").groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plan.map(r => r.getLong(0) -> r.getAs[Long]("join_rows")).toMap
      === real)
  }

  test("frame-sample schedule: short clips keep every frame, long clips " +
    "get 8 uniform strictly-increasing indices, NTSC timestamps exact") {
    val media = Seq((1L, "m1", 3), (2L, "m2", 24), (3L, "m3", 1))
      .toDF("doc_id", "media_ref", "n_frames")
    val sched = graft.ops.MultimodalOps.frameSampleSchedule(media).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("ts_ms")))
    val byDoc = sched.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byDoc(1L) === Seq(0L, 1L, 2L)) // n < budget → all frames
    assert(byDoc(2L) === (0 until 8).map(j => j * 3L)) // j*24 DIV 8
    assert(byDoc(3L) === Seq(0L))
    // 24000/1001 fps: frame 3 is at 3*1001000/24000 ms = 125.125 → 125
    assert(sched.find(s => s._1 == 2L && s._2 == 3L).get._3 === 125L)
    // exact rational, not float: frame 21 → 21*1001000/24000 = 875.875
    assert(sched.find(s => s._1 == 2L && s._2 == 21L).get._3 === 875L)
  }

  test("merge-on-read: positional and equality deletes both apply, a " +
    "doubly-deleted row is removed once, inserts append") {
    val base = Seq((1L, 10L, 1L, "a"), (2L, 10L, 2L, "b"),
      (3L, 11L, 1L, "c"), (4L, 11L, 2L, "d"))
      .toDF("doc_id", "file_id", "pos", "v")
    val eqDel = Seq(3L, 2L).toDF("doc_id") // doc 2 ALSO pos-deleted
    val posDel = Seq((10L, 2L)).toDF("file_id", "pos")
    val ins = Seq((9L, -1L, -1L, "new")).toDF("doc_id", "file_id", "pos", "v")
    val out = graft.ops.MergeOps.mergeOnRead(base, eqDel, posDel, ins,
      "doc_id").collect().map(r => (r.getLong(0), r.getString(3))).sorted
    assert(out.toSeq === Seq((1L, "a"), (4L, "d"), (9L, "new")))
  }

  test("record linkage: exact and transposed names link, blocking miss " +
    "never meets, one-digit-apart false positives surface with is_true=0") {
    val a = Seq(
      (1L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (2L, "Customer#000000002", 10L, 1010L, "AUTO"),
      (3L, "Customer#000000003", 20L, 5000L, "HOME"))
      .toDF("key", "name", "block", "cents", "seg")
    val b = Seq(
      (1L, "Customer#000000001", 10L, 1005L, "AUTO"), // exact: 24+10+6
      (2L, "Customer#000000020", 10L, 1000L, "AUTO"), // transposed: lev 2
      (3L, "Customer#000000003", 99L, 5000L, "HOME")) // corrupted block
      .toDF("key", "name", "block", "cents", "seg")
    val links = graft.ops.LinkageOps.fellegiSunterLinks(a, b).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("score"), r.getAs[Long]("is_true")))
    assert(links.toSeq === Seq(
      (1L, 1L, 40L, 1L), // true exact
      (1L, 2L, 28L, 0L), // FP: one digit apart, close balance, same seg
      (2L, 1L, 28L, 0L), // FP mirror
      (2L, 2L, 28L, 1L))) // true transposed-name
    // entity 3 is a blocking recall loss: present in both sides, never met
    assert(!links.exists(l => l._1 == 3L || l._2 == 3L))

    // multi-pass blocking RECOVERS exactly that miss (entity 3's cents
    // agree, so an offset cents band is guaranteed to pair it) and keeps
    // every single-pass link
    val multi = graft.ops.LinkageOps.fellegiSunterLinksMultiPass(a, b)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("score"), r.getAs[Long]("is_true")))
    assert(multi.contains((3L, 3L, 40L, 1L)))
    assert(links.toSet.subsetOf(multi.toSet))
  }

  test("embedding near-dup identical-vector collapse is output-identical " +
    "(scores included — within-group pairs use the same cosine " +
    "expression, not a literal 1.0)") {
    import spark.implicits._
    def v(axis: Int, bump: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0.01f)
      a(axis) = 1f
      if (bump != 0f) a((axis + 1) % 64) = bump
      a
    }
    val vecs = Seq(
      1L -> v(0), 2L -> v(0), 3L -> v(0), // identical cluster
      10L -> v(0, 0.4f),                  // near the cluster
      20L -> v(32))                       // far
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    def both(vecs: org.apache.spark.sql.DataFrame) = {
      val buckets = SimilarityOps.lshBucketsMulti(vecs)
      (rows(SimilarityOps.embeddingNearDupsFrom(vecs, buckets)),
       rows(SimilarityOps.bucketPairsVerify(buckets, vecs, 0.45)))
    }
    // degenerate inputs: zero rows, one row, two identical rows
    for ((name, n, pairs) <- Seq(("zero rows", 0, 0), ("one row", 1, 0),
        ("two identical rows", 2, 1))) {
      val (on, off) = both(Seq(5L -> v(3), 9L -> v(3)).take(n)
        .toDF("vec_id", "embedding"))
      assert(on === off, name)
      assert(on.size === pairs, name)
    }
    val (on, off) = both(vecs)
    assert(on === off) // bit-identical, scores included
    val ids = on.map(p => (p._1, p._2))
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(ids))
    assert(ids.exists(p => p._2 == 10L)) // the near pair survives too
    assert(!ids.exists(p => p._1 == 20L || p._2 == 20L))
  }

  test("semDedup identical-vector collapse is output-identical — " +
    "including under an adversarial assignment that splits identical " +
    "vectors across cells (the (cell, v) group key)") {
    import spark.implicits._
    def v(axis: Int, bump: Float = 0f): Array[Float] = {
      val a = Array.fill(8)(0.01f)
      a(axis) = 1f
      if (bump != 0f) a((axis + 1) % 8) = bump
      a
    }
    val vecs = Seq(
      1L -> v(0), 2L -> v(0), 3L -> v(0), // identical cluster
      10L -> v(0, 0.3f),                  // near the cluster
      20L -> v(4), 21L -> v(4))           // identical pair, other axis
      .toDF("vec_id", "embedding")
    def rows(assigned: org.apache.spark.sql.DataFrame, collapsed: Boolean,
             emb: org.apache.spark.sql.DataFrame = vecs) =
      (if (collapsed) SimilarityOps.semDedupFrom(emb, assigned, tau = 0.8)
       else SimilarityOps.semDedupUncollapsed(emb, assigned, tau = 0.8))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // degenerate inputs: zero rows, one row, two identical rows (the
    // larger id drops onto the smaller)
    for ((name, n, dropped) <- Seq(("zero rows", 0, Seq()),
        ("one row", 1, Seq()), ("two identical rows", 2, Seq((9L, 0, 5L))))) {
      val emb = Seq(5L -> v(2), 9L -> v(2)).take(n).toDF("vec_id", "embedding")
      val cell = emb.select(col("vec_id"), lit(0).as("cell"))
      assert(rows(cell, true, emb) === rows(cell, false, emb), name)
      assert(rows(cell, true, emb) === dropped, name)
    }
    // one cell: cluster members 2, 3 drop with canonical 1; 21 → 20; the
    // near vector 10 also collapses onto 1 at tau=0.8
    val oneCell = vecs.select(col("vec_id"), lit(0).as("cell"))
    assert(rows(oneCell, true) === rows(oneCell, false))
    assert(rows(oneCell, true).map(x => (x._1, x._3)) ===
      Seq((2L, 1L), (3L, 1L), (10L, 1L), (21L, 20L)))
    // adversarial split: identical vectors 1 and 2/3 land in DIFFERENT
    // cells — 2 keeps 3 as its group-mate's... 2 is the min of cell 1's
    // group so only 3 drops there; both paths must agree exactly
    val split = vecs.select(col("vec_id"),
      when(col("vec_id") === 1L, 0).otherwise(1).as("cell"))
    assert(rows(split, true) === rows(split, false))
  }

  test("IVF cell census: hand-computed counts/shares, empty cells " +
    "present, hot cell trips the retrain bit") {
    import spark.implicits._
    // k=4, 10 base + 6 delta rows; cell 2 ends hot (10/16 > 2×ideal 4/16
    // — 10·4·100 = 4000 > 16·200 = 3200), cell 3 is empty/starved
    val base = (Seq.fill(6)(2) ++ Seq(0, 0, 1, 1)).zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("vec_id", "cell")
    val delta = Seq((100L, 2), (101L, 2), (102L, 2), (103L, 2),
      (104L, 0), (105L, 1)).toDF("vec_id", "cell")
    val got = graft.ops.IvfOps.cellCensus(base, delta, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (0L, 2L, 1L, 3L, 187500L, 0L),
      (1L, 2L, 1L, 3L, 187500L, 0L),
      (2L, 6L, 4L, 10L, 625000L, 1L),
      (3L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("linkage attribute collapse is output-identical, including the " +
    "key-dependent is_true recomputed per expanded pair") {
    // clusters of attribute-identical records on BOTH sides (the tiled-
    // corpus shape that multiplied the in-block quadratic by cluster²):
    // a-side keys 1,2,3 identical; b-side keys 1,11 identical — the 3×2
    // expanded pairs must carry identical scores but is_true only on
    // (1,1); plus a singleton pair, a sub-threshold non-link, and a
    // null-seg pair that scores 24+10−4 and must link with the collapse on
    // exactly as with it off
    val a = Seq(
      (1L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (2L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (3L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (7L, "Customer#000000007", 10L, 9000L, "HOME"),
      (20L, "Customer#000000020", 10L, 2000L, null)) // null attribute
      .toDF("key", "name", "block", "cents", "seg")
    val b = Seq(
      (1L, "Customer#000000001", 10L, 1010L, "AUTO"),
      (11L, "Customer#000000001", 10L, 1010L, "AUTO"),
      (7L, "Customer#000000007", 10L, 9005L, "HOME"),
      (20L, "Customer#000000020", 10L, 2000L, null),
      (9L, "Totally Different Name", 10L, 99999L, "MACH"))
      .toDF("key", "name", "block", "cents", "seg")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    def uncollapsed(a: org.apache.spark.sql.DataFrame,
                    b: org.apache.spark.sql.DataFrame) =
      rows(graft.ops.LinkageOps.links(a, b, Seq(col("block")),
          threshold = 18, centsTol = 75, collapseExact = false)
        .orderBy(col("a_key"), col("b_key")))
    // degenerate inputs on both sides: zero rows, one row, two identical
    // records (the pair links 1×2 times)
    for ((name, n, links) <- Seq(("zero rows", 0, 0), ("one row", 1, 1),
        ("two identical rows", 2, 4))) {
      val side = Seq((5L, "Customer#000000005", 10L, 1000L, "AUTO"),
          (9L, "Customer#000000005", 10L, 1000L, "AUTO")).take(n)
        .toDF("key", "name", "block", "cents", "seg")
      val got = rows(graft.ops.LinkageOps.fellegiSunterLinks(side, side))
      assert(got === uncollapsed(side, side), name)
      assert(got.length === links, name)
    }
    val on = rows(graft.ops.LinkageOps.fellegiSunterLinks(a, b))
    val off = uncollapsed(a, b)
    assert(on === off) // ordered comparison: orderBy contract kept too
    val pairs = on.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long],
      s(7).asInstanceOf[Long]))
    assert(pairs.count(p => p._1 <= 3 && (p._2 == 1L || p._2 == 11L)) === 6)
    assert(pairs.filter(_._3 == 1L).map(p => (p._1, p._2)).toSet ===
      Set((1L, 1L), (7L, 7L), (20L, 20L)))
    val multiOn = rows(graft.ops.LinkageOps.fellegiSunterLinksMultiPass(a, b))
    assert(multiOn.toSet.intersect(on.toSet) === on.toSet)
  }

  /** The three blocking keys of `fellegiSunterLinksMultiPass` at
    * centsTol = 75: the caller's block, then floor(cents / 200) offset by
    * 0 and 100. */
  private def multiPassKeys: Seq[org.apache.spark.sql.Column] = {
    def band(shift: Int) =
      expr(s"(cents + $shift - pmod(cents + $shift, 200)) div 200")
    Seq(col("block"), band(0), band(100))
  }

  /** The ordered distinct union of one single-pass `fellegiSunterLinks`
    * run per multi-pass key: what the multi-pass output must equal. */
  private def unionOfSinglePasses(a: org.apache.spark.sql.DataFrame,
                                  b: org.apache.spark.sql.DataFrame)
    : Seq[Seq[Any]] =
    multiPassKeys
      .map(k => graft.ops.LinkageOps.fellegiSunterLinks(
        a.withColumn("block", k), b.withColumn("block", k)))
      .reduce(_.unionByName(_)).distinct()
      .orderBy(col("a_key"), col("b_key"))
      .collect().map(_.toSeq).toSeq

  test("multi-pass linkage equals the ordered distinct union of three " +
    "single-pass runs, and no (a_key, b_key) pair appears twice") {
    // a 1/2 and b 1/11 are attribute-identical clusters, and a-side row 2
    // is repeated verbatim; (1, 1) meets in all three passes (same block,
    // cents 1000/1005 share both bands); entity 3 is a corrupted-block
    // pair the bands recover; 8/9 is a near-balance pair in different
    // blocks that only a band joins
    val a = Seq(
      (1L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (2L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (2L, "Customer#000000001", 10L, 1000L, "AUTO"),
      (3L, "Customer#000000003", 20L, 5000L, "HOME"),
      (8L, "Customer#000000008", 40L, 3090L, "MACH"),
      (5L, "Customer#000000005", 30L, 7000L, "BLDG"))
      .toDF("key", "name", "block", "cents", "seg")
    val b = Seq(
      (1L, "Customer#000000001", 10L, 1005L, "AUTO"),
      (11L, "Customer#000000001", 10L, 1005L, "AUTO"),
      (3L, "Customer#000000003", 99L, 5000L, "HOME"),
      (9L, "Customer#000000008", 41L, 3110L, "MACH"),
      (6L, "Someone Else Entirely", 30L, 7000L, "BLDG"))
      .toDF("key", "name", "block", "cents", "seg")
    val multi = graft.ops.LinkageOps.fellegiSunterLinksMultiPass(a, b)
      .collect().map(_.toSeq).toSeq
    assert(multi === unionOfSinglePasses(a, b))
    def keys(rows: Seq[Seq[Any]]) =
      rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(keys(multi).distinct === keys(multi))
    assert(Set((1L, 1L), (1L, 11L), (2L, 1L), (2L, 11L), (3L, 3L), (8L, 9L))
      .subsetOf(keys(multi).toSet))
    assert(!keys(multi).exists(_._1 == 5L))
    // the kernel itself scores a rep pair once, at its first agreeing
    // key, however many keys it agrees on
    val kernel = graft.ops.LinkageOps.links(a.distinct(), b, multiPassKeys,
        threshold = 18, centsTol = 75, collapseExact = true)
      .collect().map(_.toSeq).toSeq
    assert(keys(kernel).distinct.sorted === keys(kernel).sorted)
  }

  test("multi-pass linkage keeps both rows of a key that carries two " +
    "attribute tuples scoring differently") {
    // a-side key 4 appears with two seg values: (4, 4) links once at 40
    // (exact name, near balance, same seg) and once at 30 (other seg);
    // both tuples meet b's key 4 under every blocking key
    val a = Seq(
      (4L, "Customer#000000004", 10L, 2000L, "AUTO"),
      (4L, "Customer#000000004", 10L, 2000L, "HOME"))
      .toDF("key", "name", "block", "cents", "seg")
    val b = Seq((4L, "Customer#000000004", 10L, 2010L, "AUTO"))
      .toDF("key", "name", "block", "cents", "seg")
    val multi = graft.ops.LinkageOps.fellegiSunterLinksMultiPass(a, b)
      .collect().map(_.toSeq).toSeq
    assert(multi.map(r => (r(0), r(1), r(6))).sortBy(_._3.toString) ===
      Seq((4L, 4L, 30L), (4L, 4L, 40L)))
    assert(multi.sortBy(_(6).toString) ===
      unionOfSinglePasses(a, b).sortBy(_(6).toString))
  }

  test("multi-pass linkage bands FLOOR for deep-negative balances: a " +
    "sub--100000-cents within-tolerance pair is recovered, and the old " +
    "truncation-band over-merge straddling -100000 yields no candidate") {
    // entity 4: corrupted block, cents -100074 vs -100050 (|Δ|=24 ≤ 75)
    //   — below the former +100000 nonnegativity shift; the two-offset
    //   guarantee must still recover it at full score
    // entities 5/6: same name/seg, cents -100074 vs -99850 (|Δ|=224):
    //   the former truncating (cents+100000) div 200 put BOTH in band 0
    //   (trunc band 0 spans 400 cents) and linked them at score 24 while
    //   the flooring oracle did not — with floor bands on both engines
    //   the pair meets in NO pass and must not link
    val a = Seq(
      (4L, "Deepneg Account Alpha", 30L, -100074L, "AUTO"),
      (5L, "Deepneg Account Beta", 31L, -100074L, "BLDG"))
      .toDF("key", "name", "block", "cents", "seg")
    val b = Seq(
      (4L, "Deepneg Account Alpha", 99L, -100050L, "AUTO"),
      (6L, "Deepneg Account Beta", 99L, -99850L, "BLDG"))
      .toDF("key", "name", "block", "cents", "seg")
    val multi = graft.ops.LinkageOps.fellegiSunterLinksMultiPass(a, b)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("score"), r.getAs[Long]("is_true")))
    assert(multi.contains((4L, 4L, 40L, 1L)))
    assert(!multi.exists(l => l._1 == 5L && l._2 == 6L))
  }

  test("drift census: hand-computed ppm shares, one-sided bins survive " +
    "the full-outer join with zero counts, layout-invariant") {
    import org.apache.spark.sql.functions._
    // v1 bins (len div 4): [0,0,1,2]; v2 bins: [0,1,1]
    val v1 = Seq((0L, "ab"), (1L, "cd"), (2L, "efghi"), (3L, "jklmnopq"))
      .toDF("doc_id", "text")
    val v2 = Seq((0L, "ab"), (1L, "efghi"), (2L, "efghj"))
      .toDF("doc_id", "text")
    val out = graft.ops.CorpusOps.driftCensus(v1, v2,
        expr("length(text) div 4")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      (0L, 2L, 1L, 500000L, 333333L, 166667L),
      (1L, 1L, 2L, 250000L, 666666L, 416666L),
      (2L, 1L, 0L, 250000L, 0L, 250000L)))
    val out2 = graft.ops.CorpusOps.driftCensus(v1.repartition(5),
        v2.repartition(3), expr("length(text) div 4")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out2.toSeq === out.toSeq)
  }

  test("leading-digit census: integer-exact digits at power-of-ten " +
    "boundaries, non-positive values excluded") {
    val vals = Seq(1L, 5L, 10L, 19L, 99L, 100L, 950L, 0L, -3L).toDF("v")
    val out = graft.ops.ProfileOps.leadingDigitCensus(vals, col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("1", 4L, 571428L), ("5", 1L, 142857L),
      ("9", 2L, 285714L)))
  }

  test("tfidf top-k: doc sharing the query's rare token outranks common-only overlap") {
    // q shares rare token "needle" with d1; d2 overlaps only on the common
    // token "the" (df=4 → tiny idf) — d1 must rank first
    val docs = docsDf(
      0L -> "the needle alpha",
      1L -> "the needle beta",
      2L -> "the the the gamma",
      3L -> "unrelated words only")
    // every doc is a query (ids < 10); query 0's ranking is checked
    val out = graft.ops.CorpusOps.tfidfTopK(docs).where(col("query_id") === 0L)
      .collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).head === 1L)
    // d3 shares no token with q → absent from the ranking entirely
    assert(!out.map(_.getAs[Long]("neighbor_id")).contains(3L))
  }

  test("hash sample: deterministic and stratified") {
    val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val a = graft.ops.CorpusOps.hashSample(docs, Map("en" -> 50), 20)
      .collect().map(_.getLong(0)).toSet
    val b = graft.ops.CorpusOps.hashSample(docs, Map("en" -> 50), 20)
      .collect().map(_.getLong(0)).toSet
    assert(a === b) // pure row rule: re-runs select identical rows
    val en = a.count(_ % 2 == 0); val fr = a.count(_ % 2 == 1)
    assert(en > fr) // 50% stratum vs 20% stratum
  }

  test("salted skew join: row-identical to the plain join, heavy key spread") {
    // key 7 carries 60% of probe rows (the skew); dim is small
    val probe = ((1L to 600L).map(i => (7L, i)) ++
      (1L to 400L).map(i => (i % 5, 1000L + i))).toDF("k", "row_id")
    val build = (0L to 7L).map(k => (k, s"dim$k")).toDF("k", "dim_val")
    val plain = probe.join(build, "k")
    val salted = graft.ops.SkewJoin.saltedJoin(
      probe, build, "k", col("row_id"), heavyKeys = Seq(7L))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the heavy key's probe rows really did receive > 1 distinct salt
    val nSalts = probe.where(col("k") === 7L)
      .select(pmod(xxhash64(col("row_id")), lit(8)))
      .distinct().count()
    assert(nSalts > 1)
    // adaptive form: detector finds exactly the planted heavy key (60%
    // share vs ~8% for the rest) and the one-call join stays row-identical
    val detected = graft.ops.SkewJoin.heavyKeys(probe, "k", minSharePct = 10.0)
    assert(detected === Seq(7L))
    val adaptive = graft.ops.SkewJoin.adaptiveSaltedJoin(
      probe, build, "k", col("row_id"))
    assert(adaptive.exceptAll(plain).isEmpty && plain.exceptAll(adaptive).isEmpty)
    // no-skew input (5 % per key): empty heavy list degrades to the plain join
    val uniform = (1L to 100L).map(i => (i % 20, i)).toDF("k", "row_id")
    assert(graft.ops.SkewJoin.heavyKeys(uniform, "k", minSharePct = 10.0).isEmpty)
    val degenerate = graft.ops.SkewJoin.adaptiveSaltedJoin(
      uniform, build, "k", col("row_id"))
    val uniformPlain = uniform.join(build, "k")
    assert(degenerate.exceptAll(uniformPlain).isEmpty &&
      uniformPlain.exceptAll(degenerate).isEmpty)
  }

  test("minhash estimates: identical docs match on every lane; near-dup " +
    "estimator error stays inside the k=16 envelope; layout-invariant") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = (1 to 27).map(i => s"tok$i").mkString(" ") + " alt1 alt2 alt3"
    val docs = Seq((1L, base), (2L, base), (3L, near), (4L, "unrelated words only"))
      .toDF("doc_id", "text")
    val rows = graft.ops.DedupOps.minhashEstimates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    val ident = rows.find(t => t._1 == 1L && t._2 == 2L).get
    assert(ident._3 === 100L) // exact_pct
    assert(ident._4 === 16L)  // every lane agrees
    assert(ident._5 === 100L) // est_pct
    assert(ident._6 === 0L)   // err_pp
    val nearRows = rows.filter(t => t._2 == 3L)
    assert(nearRows.nonEmpty, "planted near-dup pair must pass the exact gate")
    nearRows.foreach(t => assert(t._6 <= 40L,
      s"estimator error ${t._6}pp outside the k=16 envelope"))
    val rows2 = graft.ops.DedupOps.minhashEstimates(docs.repartition(5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows2.toSeq === rows.toSeq)
  }

  test("snapshotDiff classifies added/deleted/changed/unchanged by content hash") {
    val v1 = Seq((1L, "same"), (2L, "old"), (3L, "gone"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "new"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val out = graft.ops.CorpusOps.snapshotDiff(v1, v2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "unchanged"), (2L, "changed"),
      (3L, "deleted"), (4L, "added")))
  }

  test("merge upsert: update replaces whole row, insert adds, delete removes") {
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("doc_id", "name", "v")
    val delta = Seq(
      (2L, "b2", 22, false), // update
      (4L, "d", 40, false),  // insert
      (3L, "", 0, true))     // delete
      .toDF("doc_id", "name", "v", "is_delete")
    val out = graft.ops.MergeOps.upsert(snapshot, delta, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(out === Set((1L, "a", 10), (2L, "b2", 22), (4L, "d", 40)))
  }

  test("merge upsert raises on duplicate delta keys (real MERGE semantics)") {
    val snapshot = Seq((1L, "a", 10)).toDF("doc_id", "name", "v")
    val delta = Seq((1L, "x", 1, false), (1L, "y", 2, false))
      .toDF("doc_id", "name", "v", "is_delete")
    val e = intercept[IllegalArgumentException] {
      graft.ops.MergeOps.upsert(snapshot, delta, "doc_id")
    }
    assert(e.getMessage.contains("duplicate keys"))
    // explicit opt-out still fans out (documented escape hatch)
    val out = graft.ops.MergeOps.upsert(snapshot, delta, "doc_id",
      requireUniqueDeltaKeys = false).collect()
    assert(out.length === 2)
  }

  test("cdcApply collapses the ops log to last-op-per-key, then folds: " +
    "U-then-D deletes, D-then-U resurrects, I inserts, untouched kept") {
    val snapshot = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("key", "value")
    val ops = Seq(
      (1L, 1L, "U", 11L), (1L, 2L, "D", 0L),   // last op D → key 1 gone
      (2L, 1L, "D", 0L), (2L, 2L, "U", 22L),   // last op U → resurrected
      (4L, 1L, "I", 40L))                      // insert
      .toDF("key", "seq", "op", "value")
    val out = graft.ops.MergeOps.cdcApply(snapshot, ops).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set((2L, 22L, "upserted"), (3L, 30L, "kept"),
      (4L, 40L, "upserted")))
  }

  /** Both connected-components labellings of one pair frame — the driver
    * union-find and the large-star/small-star loop — as sorted
    * (doc_id, cluster_id, cluster_size) rows; asserts they are identical. */
  private def bothLabellings(pairs: org.apache.spark.sql.DataFrame)
    : Seq[(Long, Long, Long)] = {
    val (edges, sig) = DedupOps.canonicalEdges(pairs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val onDriver = rows(DedupOps.labelOnDriver(edges))
    val byStars = rows(DedupOps.labelByStars(edges, sig, maxIterations = 25))
    assert(onDriver === byStars)
    onDriver
  }

  test("dup clusters: chain graph collapses to one component (log rounds)") {
    // a 40-node path is the worst case for naive propagation (diameter 39);
    // large-star/small-star must still land everything on cluster 1 within
    // the default iteration budget
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DedupOps.dupClusters(chain).collect()
    assert(out.length === 40)
    assert(out.forall(_.getAs[Long]("cluster_id") === 1L))
    assert(out.forall(_.getAs[Long]("cluster_size") === 40L))
    // the driver union-find and the star loop label it identically
    assert(bothLabellings(chain) === (1L to 40L).map(i => (i, 1L, 40L)))
  }

  test("dup clusters: components, keepers and sizes match a union-find " +
       "reference on a random graph") {
    // deterministic pseudo-random graph: 60 nodes, 45 edges
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(45)((rnd.nextInt(60).toLong + 1,
                              rnd.nextInt(60).toLong + 1))
      .filter { case (a, b) => a != b }
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val expectedSizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size }

    val out = DedupOps.dupClusters(edges.toDF("doc_a", "doc_b")).collect()
    val got = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // union-find roots are path-min under our max→min union rule = min of
    // component, same label rule as dupClusters
    assert(got === expected)
    assert(out.map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("cluster_size"))
      .toMap === expectedSizes.map { case (k, v) => k -> v.toLong })
    // both labellings reproduce the union-find reference row for row
    assert(bothLabellings(edges.toDF("doc_a", "doc_b")) ===
      expected.toSeq.map { case (n, c) => (n, c, expectedSizes(c).toLong) }
        .sorted)
  }

  test("dup clusters: empty pair set yields empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupOps.dupClusters(empty).collect().isEmpty)
    assert(bothLabellings(empty).isEmpty)
  }

  test("dupClustersOverDocs on zero rows returns the empty frame " +
    "dupClusters(minhashLsh(docs)) returns") {
    val empty = docsDf()
    val got = DedupOps.dupClustersOverDocs(empty)
    val want = DedupOps.dupClusters(DedupOps.minhashLsh(empty))
    // names and types; nullability differs between the two plans for any
    // input, as in the row-identical test below
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    assert(cols(got) === cols(want))
    assert(got.collect().isEmpty && want.collect().isEmpty)
  }

  test("dupClustersOverDocs (rep-level CC) is row-identical to " +
    "dupClusters(minhashLsh(docs)) on a planted dup-cluster corpus") {
    // planted classes: an ISOLATED identical cluster (no cross pairs —
    // the lonely-dup-group path), an identical cluster bridged to a
    // singleton near-dup (cross-pair path), a near-dup pair of distinct
    // texts, and unique docs that must be absent; non-dense ids so the
    // min-rep labeling is exercised off the identity layout
    val body = "the quick brown fox jumps over the lazy dog again " * 3
    val other = "completely different content words that share nothing " +
      "with the fox sentences at all zzz qqq www eee rrr ttt yyy uuu"
    val nearBody = body + "tail"
    val docs = Seq(
      (31L, body), (7L, body), (55L, body),      // isolated dup cluster
      (12L, other), (40L, other),                // dup cluster...
      (9L, other + " x"),                        // ...bridged by near-dup
      (2L, "wholly unique text one with its own words abc def ghi"),
      (99L, "another unique island of text jkl mno pqr stu vwx")
    ).toDF("doc_id", "text")
    val _ = nearBody // (a bridged-in near-dup variant tried first ties
    // the fox cluster to 77 — kept the cluster isolated instead so the
    // lonely-dup-group path is exercised)
    val a = DedupOps.dupClustersOverDocs(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = DedupOps.dupClusters(DedupOps.minhashLsh(docs))
      .collect().map(_.toSeq).sortBy(_.toString)
    // `b` is also the adaptive fallback branch (dup-light → classic
    // composition) verbatim
    assert(a.nonEmpty && a.toSeq === b.toSeq)
    // dupClusters takes the driver branch on this small graph; the star
    // loop labels the same pair set identically
    assert(bothLabellings(DedupOps.minhashLsh(docs)).map(_.productIterator
      .toSeq).sortBy(_.toString) === b.toSeq)
    // the isolated cluster is present and labeled by its min id
    val byDoc = a.map(r => r.head.asInstanceOf[Long] ->
      (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])).toMap
    assert(byDoc(31L)._1 === 7L && byDoc(31L)._2 === 3L)
    // unique docs with no pairs are absent
    assert(!byDoc.contains(2L) && !byDoc.contains(99L))
  }

  test("incremental CC equals from-scratch CC: delta edges bridge " +
    "components, add singletons-as-new-nodes, and leave untouched " +
    "clusters alone; layout-invariant") {
    // base: {1,2,3}, {10,11}, {20,21} ; delta bridges 3–10 (merging two
    // clusters), introduces new node 30 attached to 21, and a fresh
    // isolated pair 40–41
    val basePairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val delta = Seq((3L, 10L), (30L, 21L), (40L, 41L))
      .toDF("doc_a", "doc_b")
    val base = DedupOps.dupClusters(basePairs)
    val got = DedupOps.dupClustersIncremental(base, delta)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = DedupOps.dupClusters(basePairs.union(delta))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === scratch)
    // untouched {20,21} gains member 30 only; {1,2,3,10,11} merged
    assert(got.contains((11L, 1L, 5L)) && got.contains((30L, 20L, 3L)))
    assert(got.contains((41L, 40L, 2L)))
    val got2 = DedupOps.dupClustersIncremental(base.repartition(7),
        delta.repartition(5))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 === got)
  }

  test("groupKFold: clusters never straddle folds, singletons fold " +
    "independently, and the doc-split census counts exactly the " +
    "clusters a doc-level hash would tear") {
    import java.math.BigInteger
    import java.security.MessageDigest
    def foldOf(key: Long, k: Int): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$key:fold".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(16, 32)
      new BigInteger(hex, 16).mod(BigInteger.valueOf(k)).longValue()
    }
    val docs = (0L until 40L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    // clusters: {0..9} → cid 0, {10,11} → cid 10; rest singletons
    val labels = ((0L until 10L).map(i => (i, 0L)) ++
      Seq((10L, 10L), (11L, 10L)))
      .toDF("doc_id", "cluster_id")
    val got = DedupOps.groupKFold(docs, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum === 40L)
    // reference: every doc's fold = fold(cid); spanning = clusters whose
    // members' DOC folds differ
    val cid = (0L until 40L)
      .map(i => i -> (if (i < 10) 0L else if (i <= 11) 10L else i)).toMap
    val expFold = (0L until 40L).groupBy(i => foldOf(cid(i), 5))
    got.foreach { case (f, nDocs, nCl, _) =>
      assert(nDocs === expFold.getOrElse(f, Seq()).size.toLong)
      assert(nCl === expFold.getOrElse(f, Seq()).map(cid).distinct.size.toLong)
    }
    val spanning = (0L until 40L).groupBy(cid)
      .count { case (_, ms) => ms.map(foldOf(_, 5)).distinct.size > 1 }
    assert(got.head._4 === spanning.toLong)
    assert(spanning >= 1) // the 10-doc cluster must span under doc-split
  }

  test("incremental CC with an empty delta republishes the base " +
    "labeling unchanged") {
    val basePairs = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val base = DedupOps.dupClusters(basePairs)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = DedupOps.dupClustersIncremental(base, empty).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === base.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("dup clusters end-to-end: LSH pairs resolve to transitive clusters") {
    // three mutually-near docs (transitive chain through doc 2) + unrelated
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val d2 = (1 to 40).map(i => if (i == 7) "X" else s"token$i").mkString(" ")
    val d3 = (1 to 40).map(i => if (i == 33) "Y" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val df = docsDf(1L -> base, 2L -> d2, 3L -> d3, 9L -> other)
    val out = DedupOps.dupClusters(DedupOps.minhashLsh(df)).collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
      r.getAs[Long]("cluster_size"))).toSet ===
      Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
  }

  test("decontaminate flags docs sharing a w-gram with the benchmark") {
    // doc 1 embeds a verbatim 5-token benchmark span (two shared 4-grams),
    // doc 2 is clean, doc 3 shares a 3-token run only (below w=4)
    val benchSpan = "the quick brown fox jumps"
    val corpus = docsDf(
      1L -> s"prefix tokens then $benchSpan and a tail",
      2L -> "completely unrelated content with no overlap at all",
      3L -> "the quick brown sits still today ok")
    val bench = docsDf(100L -> s"eval question about $benchSpan over lazy dogs")
    val out = graft.ops.CorpusOps.decontaminate(corpus, bench)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("n_hit_grams"))).toSet
      === Set((1L, 2L))) // exactly the two shared 4-grams, doc 1 only
  }

  test("threshold pairs: planted near-identical vectors found, others not; " +
       "clusters resolve transitively") {
    val a = Array.tabulate(8)(i => math.sin(i + 1.0).toFloat)
    def nudge(eps: Float) = a.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + eps else v }
    val vecs = Seq(
      (1L, a), (2L, nudge(0.01f)), (3L, nudge(0.02f)), // mutual near-dups
      (4L, Array.tabulate(8)(i => math.cos(3.0 * i).toFloat))) // unrelated
      .toDF("vec_id", "embedding")
    val pairs = SimilarityOps.thresholdPairs(vecs, minCosine = 0.999)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val clusters = DedupOps.dupClusters(pairs).collect()
    assert(clusters.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toSet ===
      Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
  }

  test("quality filter: each Gopher-style rule drops its planted violator, " +
       "clean doc kept") {
    val good = ("the cat and dog walk of a park in town is nice " +
      (1 to 25).map(i => s"word$i").mkString(" ")) // 37 toks, stops, varied
    val tooShort = "the of and is a tiny one"                  // < 30 tokens
    val noStops = (1 to 40).map(i => s"tok$i").mkString(" ")   // 0 stop hits
    val repetitive = "the of " + Array.fill(35)("spam ham").mkString(" ")
    val longTokens = "the of " + (1 to 40)
      .map(i => s"supercalifragilistic$i").mkString(" ")       // mean len > 10
    val out = TextOps.qualityFilter(docsDf(
        1L -> good, 2L -> tooShort, 3L -> noStops, 4L -> repetitive,
        5L -> longTokens))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("keep")).toMap
    assert(out === Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
  }

  test("oov stats: rare tokens fall outside the induced vocab; " +
       "tie at the boundary breaks by token text") {
    // freqs: v01..v19 = 5 each, cc=2, dd=2, ee=1 → top-20 vocab = the
    // 19 v's and cc (cc beats dd on the tie by token order); OOV = dd, ee
    val vs = (1 to 19).map(i => f"v$i%02d")
    def rep(n: Int) = Seq.fill(n)(vs).flatten.mkString(" ")
    val out = graft.ops.CorpusOps.oovStats(docsDf(
        1L -> s"${rep(2)} cc dd",
        2L -> s"${rep(3)} cc dd ee"))
      .collect().map(r => (r.getLong(0),
        r.getAs[Long]("n_oov_tokens"), r.getAs[Long]("n_oov_types"))).toSet
    assert(out === Set((1L, 1L, 1L), (2L, 2L, 2L)))
  }

  test("quota sample: exactly n per stratum, deterministic across runs") {
    val df = (1L to 50L).map(i => (i, if (i <= 30) "en" else "fr"))
      .toDF("doc_id", "lang")
    val a = graft.ops.CorpusOps.quotaSample(df, Map("en" -> 7), 4).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(a.count(_._2 == "en") === 7 && a.count(_._2 == "fr") === 4)
    val b = graft.ops.CorpusOps.quotaSample(df, Map("en" -> 7), 4).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSet === b.toSet) // re-run stable
    // quota larger than the stratum returns the whole stratum
    val d = graft.ops.CorpusOps.quotaSample(df, Map("en" -> 100), 100).collect()
    assert(d.length === 50)
    // partition-count-invariant
    val wide = df.repartition(7)
    val viaWindow = graft.ops.CorpusOps.quotaSample(wide, Map("en" -> 7), 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaWindow === a.toSet)
  }

  test("preprocess plan: width-1800 resize, 50px border, every-30th frame") {
    val media = Seq(("d1", "m1", 10, 3600, 1800, "jpeg", 61))
      .toDF("doc_id", "media_ref", "n_bytes", "width", "height", "format",
        "n_frames")
    val out = MultimodalOps.preprocessPlan(media).collect()(0)
    assert(out.getAs[Int]("new_width") === 1800)
    assert(out.getAs[Int]("new_height") === 900) // 1800 * (1800/3600)
    assert(out.getAs[Int]("padded_width") === 1900)
    assert(out.getAs[Int]("padded_height") === 1000)
    assert(out.getAs[Int]("n_sampled_frames") === 3) // frames 0,30,60
  }
}
