package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Degenerate inputs: the ops whose options became constants or whose
  * signature changed, run on zero-row and one-row `documents`/`events`-
  * shaped tables. Each must finish without an exception and keep the
  * output columns (names and types) it has on a 200-row input. */
class DegenerateInputSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs200: DataFrame = {
    val rng = new scala.util.Random(11)
    (0 until 200).map { i =>
      val words = 1 + rng.nextInt(60)
      val text = (0 until words)
        .map(j => s"w${(i * 31 + j * 7) % 90}").mkString(" ")
      (i.toLong, text, Seq("en", "fr", "de")(i % 3), s"src${i % 5}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private lazy val events200: DataFrame = {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 200).map { i =>
      (i.toLong, new Timestamp(t0 + i * 3600000L), (i % 17).toLong,
        Seq("view", "click", "purchase", "signup")(i % 4), 1.5 * (i % 40),
        "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private lazy val emb200: DataFrame = {
    val rng = new scala.util.Random(5)
    (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1), i % 4)
    }.toDF("vec_id", "embedding", "label")
  }

  private def evenOdd(d: DataFrame) =
    (d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1))

  private def pairs(d: DataFrame) =
    DedupOps.minhashLsh(d).select("doc_a", "doc_b")

  /** The p120 merge-on-read inputs, derived from documents. */
  private def mergeOnRead(d: DataFrame) = {
    val base = d.select(col("doc_id"), expr("doc_id DIV 100").as("file_id"),
      (col("doc_id") % 100).as("pos"), col("n_chars"))
    MergeOps.mergeOnRead(base,
      base.where(col("doc_id") % 37 === 0).select("doc_id"),
      base.where(col("doc_id") % 41 === 0).select("file_id", "pos"),
      base.where(col("doc_id") % 53 === 0), "doc_id")
  }

  /** p118-shaped linkage records, derived from documents. */
  private def records(d: DataFrame) =
    d.select(col("doc_id").as("key"), substring(col("text"), 1, 24).as("name"),
      (col("doc_id") % 5).as("block"), col("n_chars").as("cents"),
      col("lang").as("seg"))

  /** q131-shaped lineitem rows, derived from documents. */
  private def lineitem(d: DataFrame) =
    d.select(col("doc_id").as("l_orderkey"),
      (col("doc_id") % 7 + 1).as("l_linenumber"),
      substring(col("lang"), 1, 1).as("l_returnflag"),
      substring(col("source"), 4, 1).as("l_linestatus"),
      (col("n_chars") % 50).as("l_quantity"),
      date_add(lit("2024-01-01").cast("date"), (col("doc_id") % 300).cast("int"))
        .as("l_shipdate"))

  /** Synthesized `Doc`s with as many rows as `d`. */
  private def docsLike(d: DataFrame) =
    graft.io.Synthesizer.docs(spark, d.count(), seed = 42L)

  private def mediaOf(d: DataFrame) =
    MultimodalOps.mediaTable(docsLike(d)).toDF()

  private val docOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "CorpusOps.piiScrub" -> (d => CorpusOps.piiScrub(d)),
    "CorpusOps.hllRegisters" -> (d => CorpusOps.hllRegisters(d)),
    "CorpusOps.bloomFilter" -> (d => CorpusOps.bloomFilter(d)),
    "CorpusOps.tfidfTopK" -> (d => CorpusOps.tfidfTopK(d)),
    "CorpusOps.rrfFuse" -> (d =>
      CorpusOps.rrfFuse(Seq(CorpusOps.bm25TopK(d), CorpusOps.tfidfTopK(d)))),
    "CorpusOps.tokenDrift" -> { d => val (a, b) = evenOdd(d)
      CorpusOps.tokenDrift(a, b) },
    "CorpusOps.dsirScores" -> { d => val (a, b) = evenOdd(d)
      CorpusOps.dsirScores(a, b) },
    "CorpusOps.hllValidate" -> (d => CorpusOps.hllValidate(d)),
    "CorpusOps.hllIntersect" -> (d => CorpusOps.hllIntersect(d, "en", "fr")),
    "CorpusOps.repeatedGramStats" -> (d => CorpusOps.repeatedGramStats(d)),
    "CorpusOps.cmsValidate" -> (d => CorpusOps.cmsValidate(d)),
    "CorpusOps.epochShards" -> (d => CorpusOps.epochShards(d)),
    "CorpusOps.normalizeText" -> (d => CorpusOps.normalizeText(d)),
    "CorpusOps.homoglyphDedup" -> (d => CorpusOps.homoglyphDedup(d)),
    "CorpusOps.merkleDiff" -> (d =>
      CorpusOps.merkleDiff(d, d.where(col("doc_id") % 7 =!= 3))),
    "CorpusOps.mixturePlan" -> (d => CorpusOps.mixturePlan(d)),
    "CorpusOps.quantileValidate" -> (d => CorpusOps.quantileValidate(d)),
    "CorpusOps.ksDrift" -> { d => val (a, b) = evenOdd(d)
      CorpusOps.ksDrift(a, b) },
    "CorpusOps.hashVectorStats" -> (d => CorpusOps.hashVectorStats(d)),
    "CorpusOps.pmiPairs" -> (d => CorpusOps.pmiPairs(d)),
    "CorpusOps.kAnonymity" -> (d => CorpusOps.kAnonymity(d)),
    "DedupOps.shingleCounts" -> (d => DedupOps.shingleCounts(d)),
    "DedupOps.minhashLsh" -> (d => DedupOps.minhashLsh(d)),
    "DedupOps.minhashIncremental" -> (d => DedupOps.minhashIncremental(
      d.where(col("doc_id") % 10 =!= 0), d.where(col("doc_id") % 10 === 0))),
    "DedupOps.prefixFilteredJaccardPairs" -> (d =>
      DedupOps.prefixFilteredJaccardPairs(d)),
    "DedupOps.weightedJaccardPairs" -> (d => DedupOps.weightedJaccardPairs(d)),
    "DedupOps.containmentPairs" -> (d => DedupOps.containmentPairs(d)),
    "DedupOps.dupClusters" -> (d => DedupOps.dupClusters(pairs(d))),
    "DedupOps.dupClustersOverDocs" -> (d => DedupOps.dupClustersOverDocs(d)),
    "DedupOps.dupClustersIncremental" -> (d => DedupOps.dupClustersIncremental(
      DedupOps.dupClusters(pairs(d.where(col("doc_id") % 3 =!= 0))),
      pairs(d))),
    "DedupOps.simhashPairs" -> (d => DedupOps.simhashPairs(d)),
    "DedupOps.lineDedupStats" -> (d => DedupOps.lineDedupStats(d)),
    "DedupOps.dupSpans" -> (d => DedupOps.dupSpans(d)),
    "DedupOps.editDistanceNearDups" -> (d => DedupOps.editDistanceNearDups(
      d.select(col("doc_id"), substring(col("text"), 1, 40).as("title")))),
    "DedupOps.prefixDups" -> (d => DedupOps.prefixDups(d)),
    "GraphOps.pagerank" -> (d => GraphOps.pagerank(d)),
    "LinkageOps.fellegiSunterLinks" -> (d =>
      LinkageOps.fellegiSunterLinks(records(d), records(d))),
    "LinkageOps.fellegiSunterLinksMultiPass" -> (d =>
      LinkageOps.fellegiSunterLinksMultiPass(records(d), records(d))),
    "MergeOps.mergeOnRead" -> (d => mergeOnRead(d)),
    "PackingOps.rendezvousShards" -> (d => PackingOps.rendezvousShards(d)),
    "TextOps.qualityFilter" -> (d => TextOps.qualityFilter(d)),
    "TextOps.chunkDocs" -> (d => TextOps.chunkDocs(d)),
    "InterleaveOps.mmCosts" -> (d => InterleaveOps.mmCosts(docsLike(d))),
    "MultimodalOps.mediaTable" -> (d => mediaOf(d)),
    "MultimodalOps.frameSampleSchedule" -> (d =>
      MultimodalOps.frameSampleSchedule(mediaOf(d))),
    "MultimodalOps.preprocessPlan" -> (d =>
      MultimodalOps.preprocessPlan(mediaOf(d))),
    "CalibrationOps.isotonicCalibration" -> (d =>
      CalibrationOps.isotonicCalibration(d)),
    "ClassifierOps.perceptronTrain" -> (d => ClassifierOps.perceptronTrain(d)),
    "CorpusOps.surprisalScores" -> (d => CorpusOps.surprisalScores(d)),
    "CorpusOps.bpeTrain" -> (d => CorpusOps.bpeTrain(d)),
    "CorpusOps.bpeEncodeCensus" -> (d => CorpusOps.bpeEncodeCensus(d)),
    "DedupOps.minhashEstimates" -> (d => DedupOps.minhashEstimates(d)),
    "DedupOps.groupKFold" -> (d =>
      DedupOps.groupKFold(d, DedupOps.dupClustersOverDocs(d))),
    "StorageOps.encodingAdvisor" -> (d => StorageOps.encodingAdvisor(lineitem(d))),
    "BloomJoin.bloomReducedJoin" -> (d => BloomJoin.bloomReducedJoin(d,
      d.where(col("doc_id") % 3 === 0).select(col("doc_id"),
        col("lang").as("small_lang")), "doc_id")),
    "CorpusOps.countMinSketch" -> (d => CorpusOps.countMinSketch(d)),
    "CorpusOps.bm25TopK" -> (d => CorpusOps.bm25TopK(d)),
    "CorpusOps.oovStats" -> (d => CorpusOps.oovStats(d)),
    "CorpusOps.decontaminate" -> { d => val (a, b) = evenOdd(d)
      CorpusOps.decontaminate(a, b) },
    "CorpusOps.quotaSample" -> (d =>
      CorpusOps.quotaSample(d, Map("en" -> 7), 4)),
    "CorpusOps.hashSample" -> (d =>
      CorpusOps.hashSample(d, Map("en" -> 50), 20)),
    "CorpusOps.domainCap" -> (d => CorpusOps.domainCap(d)),
    "CorpusOps.sourceOverlap" -> (d => CorpusOps.sourceOverlap(d)),
    "CorpusOps.bpePairCounts" -> (d => CorpusOps.bpePairCounts(d)),
    "CorpusOps.vocabCoverage" -> (d => CorpusOps.vocabCoverage(d)),
    "CorpusOps.budgetWaterfill" -> (d => CorpusOps.budgetWaterfill(d)),
    "DedupOps.exactJaccardPairs" -> (d => DedupOps.exactJaccardPairs(d)),
    "DedupOps.minhashCandidates" -> (d => DedupOps.minhashCandidates(d)),
    "GraphOps.bfsHops" -> (d => GraphOps.bfsHops(d)),
    "MergeOps.upsert" -> (d => MergeOps.upsert(
      d.select(col("doc_id"), col("text")),
      changes(d.where(col("doc_id") % 4 === 0)).drop("seq"), "doc_id")),
    "MultimodalOps.phashNearDupsDumped" -> (d =>
      MultimodalOps.phashNearDupsDumped(docsLike(d), tmpDir() + "/refs")),
    "PackingOps.packChunks" -> (d => PackingOps.packChunks(d)),
    "PackingOps.feistelShuffle" -> (d => PackingOps.feistelShuffle(d)),
    "PrivacyOps.dpHistogram" -> (d => PrivacyOps.dpHistogram(d)),
    "ProfileOps.equiDepthHistogram" -> (d =>
      ProfileOps.equiDepthHistogram(d, "n_chars")),
    "ProfileOps.missingIdRanges" -> (d =>
      ProfileOps.missingIdRanges(d.where(col("doc_id") % 7 =!= 3), "doc_id")),
    "ProfileOps.denseRanks" -> (d => ProfileOps.denseRanks(d, "doc_id")),
    "SuffixOps.suffixCensus" -> (d => SuffixOps.suffixCensus(texts(d).toDF())),
    "SuffixOps.lcpCensus" -> (d => SuffixOps.lcpCensus(texts(d).toDF())),
    "SuffixOps.repeatSpans" -> (d => SuffixOps.repeatSpans(texts(d).toDF())),
  )

  private val eventOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "EventOps.funnel" -> (e => EventOps.funnel(e)),
    "EventOps.nearestEventJoin" -> (e => EventOps.nearestEventJoin(e)),
    "EventOps.hllSlidingUnion" -> (e => EventOps.hllSlidingUnion(e)),
    "EventOps.ewmaScan" -> (e => EventOps.ewmaScan(e)),
    "SkewJoin.adaptiveSaltedJoin" -> (e => SkewJoin.adaptiveSaltedJoin(e,
      e.select(col("event_type")).distinct()
        .withColumn("kind_len", length(col("event_type"))),
      "event_type", saltSource = col("event_id"))),
  )

  private val embOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "SimilarityOps.lshBuckets" -> (e => SimilarityOps.lshBuckets(e)),
    "SimilarityOps.lshTopKFrom" -> (e =>
      SimilarityOps.lshTopKFrom(e, SimilarityOps.lshBuckets(e))),
    "IvfOps.topKFrom" -> { e =>
      val c = IvfOps.train(e)
      IvfOps.topKFrom(e, IvfOps.assign(e, c), IvfOps.probes(e, c, nprobe = 2))
    },
    "SimilarityOps.lshBucketsMulti" -> (e => SimilarityOps.lshBucketsMulti(e)),
    "GraphAnnOps.beamVisitedSweep + topKFromVisitedSweep" -> { e =>
      val g = GraphAnnOps.buildKnnGraph(e)
      GraphAnnOps.topKFromVisitedSweep(e,
        GraphAnnOps.beamVisitedSweep(e, g, Seq(2, 8)))
    },
    "GraphAnnOps.buildKnnGraph + beamVisited + topKFromVisited" -> { e =>
      val g = GraphAnnOps.buildKnnGraph(e)
      GraphAnnOps.topKFromVisited(e, GraphAnnOps.beamVisited(e, g))
    },
    "GraphAnnOps.buildKnnGraphDescent" -> (e =>
      GraphAnnOps.buildKnnGraphDescent(e)),
    "GraphAnnOps.insertIntoGraph" -> { e =>
      val g = GraphAnnOps.buildKnnGraph(e.where(col("vec_id") % 5 =!= 2))
      GraphAnnOps.insertIntoGraph(e, g, e.where(col("vec_id") % 5 === 2))
    },
    "SimilarityOps.bruteTopK" -> (e => SimilarityOps.bruteTopK(e)),
    "SimilarityOps.hardNegatives" -> (e => SimilarityOps.hardNegatives(e)),
    "SimilarityOps.quantizedRecall" -> (e => SimilarityOps.quantizedRecall(e)),
    "SimilarityOps.topPairs" -> (e => SimilarityOps.topPairs(e)),
    "SimilarityOps.embeddingNearDupsFrom" -> (e =>
      SimilarityOps.embeddingNearDupsFrom(e, SimilarityOps.lshBucketsMulti(e))),
    "SimilarityOps.kcenterCoreset" -> (e => SimilarityOps.kcenterCoreset(e)),
    "CoresetOps.facilityLocation" -> (e => CoresetOps.facilityLocation(e)),
    "PqOps.train + adcRecallFrom" -> { e =>
      val cb = PqOps.train(e)
      PqOps.adcRecallFrom(e, PqOps.encode(e, cb), PqOps.codebookDf(spark, cb))
    },
    "PqOps.train + rerankRecall" -> { e =>
      val cb = PqOps.train(e)
      PqOps.rerankRecall(e, PqOps.encode(e, cb), PqOps.codebookDf(spark, cb))
    },
    "PqOps.chunkPooling" -> (e => PqOps.chunkPooling(e)),
    "PqOps.prefixRecall" -> (e => PqOps.prefixRecall(e)),
    "IvfOps.cellCensus" -> { e =>
      val c = IvfOps.train(e)
      IvfOps.cellCensus(IvfOps.assign(e, c),
        IvfOps.assign(e.where(col("vec_id") % 7 === 3), c), k = 16)
    },
  )

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-degenerate").toString

  private def texts(d: DataFrame) =
    d.select(col("doc_id"), col("text")).as[(Long, String)]

  /** A change batch of p120's streaming upsert, derived from documents. */
  private def changes(d: DataFrame) =
    d.select(col("doc_id"), col("text"), col("n_chars").as("seq"),
      (col("doc_id") % 9 === 0).as("is_delete"))

  /** Streaming ops, run on batch frames (the operators are the same). */
  private val streamOps: Seq[(String, DataFrame => DataFrame)] = {
    import graft.streaming.StreamingExtraction._
    def side(e: DataFrame, kind: String, p: String) =
      e.where(col("event_type") === kind).select(col("user_id").as(s"${p}_user"),
        col("ts").as(s"${p}_ts"), col("event_id").as(s"${p}_id"))
    Seq(
      "StreamingExtraction.sessionMetrics" -> (e => sessionMetrics(e)),
      "StreamingExtraction.intervalJoinStream" -> (e => intervalJoinStream(
        side(e, "purchase", "p"), side(e, "click", "c"))),
    )
  }

  /** Streaming ops over documents, each input degenerate on its own. */
  private def streamDocOps(full: DataFrame): Seq[(String, DataFrame => DataFrame)] = {
    import graft.streaming.StreamingExtraction._
    Seq(
      "StreamingExtraction.decontaminateStream (stream)" -> (d =>
        decontaminateStream(texts(d), full).toDF()),
      "StreamingExtraction.decontaminateStream (benchmark)" -> (d =>
        decontaminateStream(texts(full), d).toDF()),
      "StreamingExtraction.applyUpsertBatch" -> { d =>
        val path = tmpDir() + "/snap"
        applyUpsertBatch(changes(d), path)
        spark.read.parquet(path)
      },
    )
  }

  /** Extraction paths, on as many synthesized `Doc`s as the input has rows. */
  private val pipeOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ExtractionPipeline.run" -> (d =>
      graft.pipe.ExtractionPipeline.run(docsLike(d)).toDF()),
    "SaltedPipeline.run" -> (d =>
      graft.pipe.SaltedPipeline.run(docsLike(d)).toDF()),
  )

  /** TableIO writers, each read back. */
  private val ioOps: Seq[(String, DataFrame => DataFrame)] = {
    import graft.io.TableIO
    Seq(
      "TableIO.writePartitionedClustered" -> { d =>
        val p = tmpDir() + "/part"
        TableIO.writePartitionedClustered(d, p, "lang", "doc_id")
        // zero rows write no partition dir, so the schema is given
        spark.read.schema(d.schema).parquet(p).select(d.columns.map(col): _*)
      },
      "TableIO.writeZOrdered" -> { d =>
        val p = tmpDir() + "/z"
        TableIO.writeZOrdered(d, p, "doc_id", "n_chars")
        spark.read.parquet(p)
      },
      "TableIO.compact" -> { d =>
        val t = tmpDir()
        d.write.parquet(t + "/small")
        TableIO.compact(spark, t + "/small", t + "/out")
        spark.read.parquet(t + "/out")
      },
      "TableIO.commitSnapshot + readSnapshot" -> { d =>
        val t = tmpDir() + "/snap"
        TableIO.commitSnapshot(d, t, 1)
        TableIO.readSnapshot(spark, t)
      },
    )
  }

  private def columns(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  /** One line per (op, row count) that throws or changes its columns. */
  private def degenerate(cases: Seq[(Seq[(String, DataFrame => DataFrame)],
                                     DataFrame)]): Seq[String] =
    for {
      (ops, full) <- cases
      (name, op) <- ops
      n <- Seq(0, 1)
      problem <- {
        val want = columns(op(full))
        scala.util.Try {
          val out = op(full.limit(n))
          out.collect()
          columns(out)
        } match {
          case scala.util.Success(got) if got == want => None
          case scala.util.Success(got) => Some(s"columns $got, want $want")
          case scala.util.Failure(e) => Some(e.toString.take(300))
        }
      }
    } yield s"$name on $n rows: $problem"

  // CacheManager.numCachedEntries is private[spark] in Scala, public in
  // bytecode
  private def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("no op leaves a cached Dataset behind: each doc, event and " +
    "embedding op, collected on its 200-row input, ends with as many " +
    "CacheManager entries as it began with") {
    val leaks = Seq((docOps, docs200), (eventOps, events200), (embOps, emb200))
      .flatMap { case (ops, full) =>
        ops.flatMap { case (name, op) =>
          val before = cachedEntries
          op(full).collect()
          val after = cachedEntries
          if (after > before) Some(s"$name: $before -> $after") else None
        }
      }
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }

  test("hllValidate on zero rows returns the oracle's one row: m 64, " +
    "n_exact 0, est_int 45, err_permille null") {
    val rows = CorpusOps.hllValidate(docs200.limit(0)).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((64L, 0L, 45L)))
    assert(r.isNullAt(3))
  }

  test("every op with options made constant runs on zero-row and one-row " +
    "documents/events inputs and keeps its 200-row output columns") {
    val failures = degenerate(Seq((docOps, docs200), (eventOps, events200),
      (embOps, emb200)))
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("every streaming, pipe and io op whose signature changed runs on " +
    "zero-row and one-row inputs and keeps its 200-row output columns") {
    val failures = degenerate(Seq((streamOps, events200),
      (streamDocOps(docs200), docs200), (pipeOps, docs200), (ioOps, docs200)))
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("Sink.write of zero rows and one row finishes; each reads back " +
    "with the results schema") {
    val results = graft.pipe.ExtractionPipeline
      .run(graft.io.Synthesizer.docs(spark, 1, seed = 42L))
    for (n <- Seq(0, 1)) {
      val dir = tmpDir() + "/sink"
      graft.pipe.Sink.write(results.limit(n), dir)
      assert(spark.read.schema(results.schema).parquet(dir).count() === n)
    }
  }

  test("applyUpsertBatch with an empty batch leaves the snapshot as it was") {
    val path = tmpDir() + "/snap"
    val d = changes(docs200.limit(5))
    graft.streaming.StreamingExtraction.applyUpsertBatch(d, path)
    val before = spark.read.parquet(path).collect().toSet
    graft.streaming.StreamingExtraction.applyUpsertBatch(d.limit(0), path)
    assert(spark.read.parquet(path).collect().toSet === before)
  }
}
