package graft.pipe

import org.apache.spark.sql.{Dataset, SaveMode}
import graft.model.DocResult

/** Dataset sink — the Spark restatement of the reference's
  * `pipeline/dataset_builder.py:21-66`: records routed by
  * (document_type, validity) into a partitioned table instead of
  * per-class directories; the JSON annotation record
  * `{image, ground_truth, validation_error?}` becomes the `record_json` +
  * `validation_error` columns, the copied image becomes the face/media
  * span refs already inside `spans`, and the uuid filename becomes the
  * deterministic `doc_id`. A write replaces whatever `path` held. */
object Sink {
  def write(results: Dataset[DocResult], path: String): Unit =
    results.toDF()
      .write.mode(SaveMode.Overwrite)
      .partitionBy("doc_type_dir", "is_valid")
      .parquet(path)
}
