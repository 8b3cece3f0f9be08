package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.{Doc, DocResult, Span}
import graft.pipe.{ExtractionPipeline, SaltedPipeline}

/** Ingestion cap (reference app/main.py:41, 16 MB MAX_CONTENT_LENGTH):
  * oversize rows must be routed to Rejected on EVERY extraction path
  * (fused, salted, streaming) without touching the OCR kernel. */
class OversizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val bigText = "x" * (ExtractionPipeline.MaxInputBytes.toInt + 1)
  private def normal(id: String) =
    Doc(id, Vector(Span("text", "MALE 1234 5678 9012", null, 0)))

  test("fused path: oversize doc becomes a Rejected result") {
    val docs = Seq(
      normal("ok1"),
      Doc("big1", Vector(Span("text", bigText, null, 0)))).toDS()
    val out = ExtractionPipeline.run(docs).collect().map(r => r.doc_id -> r).toMap
    assert(out("big1").document_type === "Rejected")
    assert(!out("big1").is_valid)
    assert(out("big1").validation_error.contains("16777216"))
    assert(out("big1").spans.isEmpty)
    assert(out("ok1").document_type === "Aadhaar Card")
  }

  test("salted path: oversize heavy doc rejected without the span shuffle") {
    val heavyBig = Doc("bigH", Vector.tabulate(10)(i =>
      Span("text", if (i == 0) bigText else s"line $i", null, i)))
    val out = SaltedPipeline.run(Seq(normal("ok2"), heavyBig).toDS())
      .collect().map(r => r.doc_id -> r).toMap
    assert(out("bigH").document_type === "Rejected")
    assert(out("ok2").document_type === "Aadhaar Card")
    // the salted Rejected row is the fused path's row, field for field
    val fused = ExtractionPipeline.run(Seq(heavyBig).toDS()).collect().head
    def fields(r: DocResult) = (r.doc_id, r.document_type, r.doc_type_dir,
      r.is_valid, r.validation_error, r.ocr_accuracy_score, r.record_json,
      r.spans)
    assert(fields(out("bigH")) === fields(fused))
  }

  test("streaming path: oversize doc becomes a Rejected result") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Doc]
    stream.addData(Seq(normal("ok3"),
      Doc("big3", Vector(Span("text", bigText, null, 0)))))
    val q = ExtractionPipeline.run(stream.toDS())
      .writeStream.format("memory").queryName("oversize_stream_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("oversize_stream_out").as[DocResult].collect()
      .map(r => r.doc_id -> r).toMap
    assert(out("big3").document_type === "Rejected")
    assert(!out("big3").is_valid)
    assert(out("big3").spans.isEmpty)
    assert(out("ok3").document_type === "Aadhaar Card")
  }
}
