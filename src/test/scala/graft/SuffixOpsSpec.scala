package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Prefix-doubling suffix array: ranks must equal a brute-force sort of
  * every suffix string (the formulation the operator exists to avoid
  * materializing). */
class SuffixOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ranksOf(docs: Seq[(Long, String)], maxLen: Int = 192)
    : Map[(Long, Int), Long] =
    graft.ops.SuffixOps.suffixRanks(docs.toDF("doc_id", "text"), maxLen)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap

  /** Brute-force oracle: dense 0-based rank by suffix string. */
  private def brute(docs: Seq[(Long, String)], maxLen: Int = 192)
    : Map[(Long, Int), Long] = {
    val sfx = for {
      (id, t0) <- docs
      t = t0.take(maxLen)
      p <- 0 until t.length
    } yield ((id, p), t.substring(p))
    val rank = sfx.map(_._2).distinct.sorted.zipWithIndex.toMap
    sfx.map { case (k, s) => k -> rank(s).toLong }.toMap
  }

  test("banana: the textbook suffix array") {
    val got = ranksOf(Seq((7L, "banana")))
    // suffixes sorted: a, ana, anana, banana, na, nana
    assert(got === Map((7L, 5) -> 0L, (7L, 3) -> 1L, (7L, 1) -> 2L,
      (7L, 0) -> 3L, (7L, 4) -> 4L, (7L, 2) -> 5L))
  }

  test("cross-doc ties share ranks; prefix sorts before its extension") {
    val got = ranksOf(Seq((1L, "abab"), (2L, "abab"), (3L, "abc")))
    // identical docs → identical rank sequences (the dedup signal)
    (0 until 4).foreach(p => assert(got((1L, p)) === got((2L, p))))
    // "ab" (doc1 pos2) < "abab" (doc1 pos0) < "abc" (doc3 pos0)
    assert(got((1L, 2)) < got((1L, 0)))
    assert(got((1L, 0)) < got((3L, 0)))
    assert(got === brute(Seq((1L, "abab"), (2L, "abab"), (3L, "abc"))))
  }

  test("matches the brute-force suffix sort on a mixed corpus") {
    // deterministic pseudo-texts long enough to need several doubling
    // rounds, with planted shared substrings across docs
    val docs = (0L until 40L).map { i =>
      val base = s"the quick ${("abc" * ((i % 5) + 1).toInt)} fox " +
        s"jumps over ${(i % 7)} lazy dogs " + ("na" * ((i % 9) + 1).toInt)
      (i, base + (if (i % 3 == 0) " shared suffix tail" else ""))
    }
    assert(ranksOf(docs) === brute(docs))
  }

  test("maxLen truncates before ranking and bounds the round count") {
    val docs = Seq((1L, "aaaaabbbbbcccccddddd"), (2L, "aaaaabbbbbzzz"))
    assert(ranksOf(docs, maxLen = 8) === brute(docs, maxLen = 8))
  }

  test("pairwise fallback (the n ≥ 2^31 path) ranks identically") {
    val docs = (0L until 25L).map(i =>
      (i, s"prefix ${"ab" * (i % 6 + 1).toInt} mid ${i % 4} tail"))
    val packed = graft.ops.SuffixOps
      .suffixRanks(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val pairwise = graft.ops.SuffixOps
      .ranksCore(docs.toDF("doc_id", "text"), 192, forcePairwise = true)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(packed === pairwise)
    assert(packed === brute(docs))
  }

  /** Brute-force LCP census: sort distinct suffixes, pair adjacent,
    * common-prefix length capped at `window`. */
  private def bruteLcp(docs: Seq[(Long, String)], maxLen: Int,
                       window: Int): Map[Long, (Long, Long)] = {
    val distinct = docs.flatMap { case (_, t0) =>
      val t = t0.take(maxLen); (0 until t.length).map(t.substring)
    }.distinct.sorted
    distinct.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), r) =>
        val wa = a.take(window); val wb = b.take(window)
        val lcp = wa.zip(wb).takeWhile { case (x, y) => x == y }.size.toLong
        (lcp, r.toLong)
    }.toSeq.groupBy(_._1)
      .map { case (l, xs) => l -> (xs.size.toLong, xs.map(_._2).sum) }
  }

  test("lcp census matches the brute-force adjacent-suffix scan, " +
      "window caps long repeats, planted verbatim repeat is visible") {
    // doc 2 repeats doc 1's 70-char phrase verbatim → some adjacent pair
    // must share ≥ 70 chars; the 64-char window cap truncates it to 64
    val phrase = "the exact seventy char phrase that doc one and doc two share verbatim!"
    val docs = Seq(
      (1L, s"alpha $phrase beta ${"na" * 5}"),
      (2L, s"gamma $phrase delta"),
      (3L, "unrelated content entirely zz"))
    val got = graft.ops.SuffixOps
      .lcpCensus(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === bruteLcp(docs, maxLen = 128, window = 64))
    // the planted repeat saturates the window: an LCP = 64 pair exists
    assert(got.contains(64L))
  }

  test("lcp census is partition-count invariant") {
    val docs = (0L until 24L).map(i =>
      (i, s"shared header text ${"ab" * (i % 5 + 1).toInt} tail $i"))
    val df = docs.toDF("doc_id", "text")
    val a = graft.ops.SuffixOps.lcpCensus(df)
      .collect().map(_.toSeq)
    val b = graft.ops.SuffixOps.lcpCensus(df.repartition(7))
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  /** Brute-force removal plan mirroring repeatSpans' contract exactly:
    * neighbor LCPs over window-capped class windows, duplicate-class
    * suffix length, minLen threshold, touch-merge interval union. */
  private def bruteSpans(docs: Seq[(Long, String)], maxLen: Int,
                         window: Int, minLen: Int)
    : Map[Long, (Long, Long, Long, Long)] = {
    val sfx = docs.flatMap { case (id, t0) =>
      val t = t0.take(maxLen)
      (0 until t.length).map(p => (id, p, t.length, t.substring(p)))
    }
    val classes = sfx.map(_._4).distinct.sorted
    val rankOf = classes.zipWithIndex.toMap
    val sizes = sfx.groupBy(_._4).map { case (s, xs) => rankOf(s) -> xs.size }
    val wins = classes.map(_.take(window))
    def lcp(a: String, b: String) =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val lcpNext = (0 until classes.size - 1)
      .map(r => lcp(wins(r), wins(r + 1)))
    val spans = sfx.flatMap { case (id, p, len, s) =>
      val r = rankOf(s)
      val nbr = math.max(if (r < lcpNext.size) lcpNext(r) else 0,
        if (r > 0) lcpNext(r - 1) else 0)
      val self = if (sizes(r) >= 2) math.min(len - p, window) else 0
      val rl = math.max(nbr, self)
      if (rl >= minLen) Some((id, p.toLong, p.toLong + rl)) else None
    }
    spans.groupBy(_._1).map { case (id, sp0) =>
      val sp = sp0.map(x => (x._2, x._3)).sorted
      var merged = List.empty[(Long, Long)]
      for ((s, e) <- sp) merged = merged match {
        case (cs, ce) :: tail if s <= ce => (cs, math.max(ce, e)) :: tail
        case l => (s, e) :: l
      }
      val m = merged.reverse
      id -> (sp.size.toLong, m.size.toLong,
        m.map(x => x._2 - x._1).sum, m.map(x => x._1 * (x._2 - x._1)).sum)
    }
  }

  test("repeat spans: planted cross-doc phrase is flagged in both docs, " +
      "unique doc is absent, self-repetitive doc merges to one interval; " +
      "matches the brute-force plan") {
    val phrase = "this exact phrase appears verbatim twice!"
    val docs = Seq(
      (1L, s"alpha $phrase omega unique-one"),
      (2L, s"beta $phrase gamma unrelated"),
      (3L, "entirely unique content with no repeats at all qqq"),
      (4L, "na" * 40)) // internal repeats → overlapping spans merge
    val got = graft.ops.SuffixOps
      .repeatSpans(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val want = bruteSpans(docs, maxLen = 128, window = 64, minLen = 20)
    assert(got === want)
    assert(got.contains(1L) && got.contains(2L) && got.contains(4L))
    assert(!got.contains(3L))
    // the self-repetitive doc's overlapping spans union to ONE interval
    assert(got(4L)._2 === 1L)
  }

  test("repeat spans are partition-count invariant") {
    val docs = (0L until 20L).map(i =>
      (i, s"common shared prefix block ${"xy" * (i % 4 + 1).toInt} t$i"))
    val df = docs.toDF("doc_id", "text")
    val a = graft.ops.SuffixOps.repeatSpans(df)
      .collect().map(_.toSeq)
    val b = graft.ops.SuffixOps.repeatSpans(df.repartition(7))
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  /** Planted dup-cluster corpus for the exact-dup collapse equality pins:
    * a size-4 identical cluster, a size-2 cluster identical ONLY within
    * the 128-char cap (diverging tails), a cross-doc repeated phrase whose
    * docs are NOT identical, self-repetitive and unique docs. Non-dense
    * doc_ids so rep selection (min id) is exercised off the identity
    * layout. */
  private val dupCorpus: Seq[(Long, String)] = {
    val phrase = "the shared verbatim phrase that repeats across docs!"
    val head = "capped head identical part " * 5 // 135 chars: past the cap
    Seq(
      (3L, s"alpha $phrase tail one ${"na" * 6}"),
      (17L, s"cluster body text ${"xy" * 8} end"),
      (9L, s"cluster body text ${"xy" * 8} end"),   // = 17 (full dup)
      (41L, s"cluster body text ${"xy" * 8} end"),  // = 17
      (55L, s"cluster body text ${"xy" * 8} end"),  // = 17
      (8L, s"beta $phrase other tail entirely AAAA"),
      (30L, head + "then DIVERGENT-A suffix material"),
      (22L, head + "then DIVERGENT-B suffix material"),
      (11L, "wholly unique content with no repeats qqq zz"),
      (6L, "na" * 30))
  }

  test("exact-dup collapse: all four ops are bit-identical to the " +
      "per-doc path on a planted dup-cluster corpus") {
    // docs 30/22 are identical within the 128-char cap (their full texts
    // differ) — the collapse must group on the CAPPED text
    import graft.ops.SuffixOps
    import SuffixOps.{CensusShardShift, LcpWindow, RepeatMinLen, SuffixMaxLen}
    def rows(df: org.apache.spark.sql.DataFrame, sorted: Boolean = false) = {
      val r = df.collect().map(_.toSeq).toSeq
      if (sorted) r.sortBy(_.toString) else r
    }
    // (ranks, census, lcp, spans), each collapsed and per-doc
    def both(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, Seq[Seq[Any]], Seq[Seq[Any]])] = Seq(
      ("ranks", rows(SuffixOps.suffixRanks(df, SuffixMaxLen), sorted = true),
        rows(SuffixOps.ranksCore(df, SuffixMaxLen), sorted = true)),
      ("census", rows(SuffixOps.suffixCensus(df)),
        rows(SuffixOps.suffixCensusUncollapsed(df, SuffixMaxLen,
          CensusShardShift))),
      ("lcp", rows(SuffixOps.lcpCensus(df)),
        rows(SuffixOps.lcpCensusOf(df, df, SuffixMaxLen, LcpWindow))),
      ("spans", rows(SuffixOps.repeatSpans(df)),
        rows(SuffixOps.repeatSpansKernel(df, SuffixMaxLen, LcpWindow,
          RepeatMinLen, collapseExact = false))))
    // degenerate inputs: zero rows, one row, two identical rows (the
    // identical pair flags its whole 24-char text as a verbatim repeat)
    val deg = "repeat me ok, twice over"
    for ((name, n) <- Seq(("zero rows", 0), ("one row", 1),
        ("two identical rows", 2))) {
      val df = Seq(5L -> deg, 9L -> deg).take(n).toDF("doc_id", "text")
      both(df).foreach { case (op, c, u) =>
        assert(c === u, s"$op on $name")
        assert(c.isEmpty === (n == 0 || op == "spans" && n == 1),
          s"$op on $name")
      }
    }
    val ops = both(dupCorpus.toDF("doc_id", "text"))
    ops.foreach { case (op, c, u) =>
      assert(c.nonEmpty && c === u, op)
    }
    val sc = ops.last._2
    // every member of the size-4 cluster got its (identical) span row:
    // duplicate-class suffixes of a 4-cluster all reach the threshold
    val spanIds = sc.map(_.head.asInstanceOf[Long]).toSet
    assert(Set(17L, 9L, 41L, 55L).subsetOf(spanIds))
  }

  test("census: shard counts, distincts and checksums are partition-count" +
      " invariant") {
    // ~1,700 suffixes: several 512-rank shards
    val docs = (0L until 120L).map(i => (i, ("xy" * (i % 11 + 1).toInt) +
      i.toString))
    val df = docs.toDF("doc_id", "text")
    val a = graft.ops.SuffixOps.suffixCensus(df)
      .collect().map(_.toSeq)
    val b = graft.ops.SuffixOps.suffixCensus(df.repartition(7))
      .collect().map(_.toSeq)
    assert(a.length > 1 && a.toSeq === b.toSeq)
  }
}
