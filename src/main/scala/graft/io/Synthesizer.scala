package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{Doc, Span}
import Corpus.Rng

/** Deterministic interleaved-document table synthesizer (FIXTURES.md §1).
  * Generation is distributed (`spark.range(...).map`) and a pure function of
  * (seed, index) — no driver-side loops, no wall-clock, no global RNG — so
  * the same (seed, count) yields the same table at any parallelism.
  *
  * Doc shape: `doc_id` + interleaved `text` spans (HTML-ish pages) and
  * `media` spans (content keys the OCR backend inverts). ~1% of docs are
  * media-heavy (10–50 spans) to exercise skew salting.
  */
object Synthesizer {

  val families: Vector[(String, Int)] = Vector(
    "aadhaar" -> 14, "pan" -> 12, "marksheet" -> 12, "dl" -> 12,
    "dls" -> 10, "passport" -> 12, "voter" -> 8, "web" -> 19, "heavy" -> 1)
  private val totalWeight = families.map(_._2).sum

  private def familyFor(r: Int): String = {
    var acc = 0
    var res: String = null
    families.foreach { case (f, w) =>
      acc += w
      if (res == null && r < acc) res = f
    }
    if (res == null) families.last._1 else res
  }

  /** A small HTML page whose main content is `contentLines`; nav/footer/
    * script chrome is stripped by BoilerplateStrip. */
  private def htmlPage(rng: Rng, contentLines: Seq[String]): String = {
    val navLinks = (1 to 3).map(_ => s"""<a href="#">${rng.pick(Corpus.noiseWords)}</a>""").mkString(" ")
    val paras = contentLines.map(l => s"<p>$l</p>").mkString("")
    s"""<html><head><title>${rng.pick(Corpus.noiseWords)}</title>""" +
      s"""<style>body{margin:0}</style></head><body><nav>$navLinks</nav>""" +
      s"""<div class="main">$paras</div>""" +
      s"""<footer>copyright notice &amp; all rights reserved</footer>""" +
      s"""<script>var t=1;</script></body></html>"""
  }

  private def noiseLine(rng: Rng): String =
    (1 to (3 + rng.nextInt(5))).map(_ => rng.pick(Corpus.noiseWords)).mkString(" ")

  /** Pure (seed, n) → Doc. */
  def genDoc(seed: Long, n: Long): Doc = {
    val rng = new Rng(Corpus.hash(s"doc:$seed:$n"))
    val family = familyFor(rng.nextInt(totalWeight))
    val spans = Vector.newBuilder[Span]
    var off = 0
    def addText(html: String): Unit = { spans += Span("text", html, null, off); off += 1 }
    def addMedia(ref: String): Unit = { spans += Span("media", "", ref, off); off += 1 }

    family match {
      case "web" =>
        val k = 1 + rng.nextInt(4)
        (1 to k).foreach { _ =>
          addText(htmlPage(rng, (1 to (1 + rng.nextInt(3))).map(_ => noiseLine(rng))))
        }
      case "heavy" =>
        addText(htmlPage(rng, Seq(noiseLine(rng))))
        val pages = 10 + rng.nextInt(41)
        (0 until pages).foreach { p => addMedia(Corpus.mediaRef("page", 0, n * 1000 + p)) }
      case idFamily =>
        val variant = rng.nextInt(Corpus.variantCount(idFamily))
        val noiseBefore = rng.nextInt(2)
        val noiseAfter = rng.nextInt(2)
        (0 until noiseBefore).foreach(_ => addText(htmlPage(rng, Seq(noiseLine(rng)))))
        addMedia(Corpus.mediaRef(idFamily, variant, n))
        (0 until noiseAfter).foreach(_ => addText(htmlPage(rng, Seq(noiseLine(rng)))))
    }
    Doc(f"doc-$n%012d", spans.result())
  }

  def docs(spark: SparkSession, count: Long, seed: Long = 42L,
           partitions: Int = 0): Dataset[Doc] = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    spark.range(0, count, 1, p).map(n => genDoc(seed, n))
  }
}
