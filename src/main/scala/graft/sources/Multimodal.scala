package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, decoded per partition.
  *
  * The decode step itself is a STUB — no media libraries exist in this
  * environment — but everything Spark-level is real and tested: the
  * schema (binary payload + metadata struct), the per-partition
  * batched execution slot (`mapPartitions` over a typed Dataset — the
  * Scala analog of `mapInPandas`: one iterator per partition, so a
  * real decoder would amortize model/codec init across the batch), and
  * the downstream feature-column contract (fixed-length float vector,
  * ready for the Knn/AnnIvf operators).
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String,
      payload_len: Int, features: Array[Float])

  val FeatureDim = 8

  /** STUB decoder — deterministic fake: byte-histogram moments instead
    * of a real image/audio decode. Replace with the real codec at the
    * marked line; the Spark plumbing around it is unchanged. */
  def decodeStub(mediaType: String, payload: Array[Byte]): Array[Float] = {
    // ??? <- real decoder goes here (e.g. JPEG decode + CNN features)
    val f = new Array[Float](FeatureDim)
    if (payload.nonEmpty) {
      var sum = 0L; var mx = 0; var mn = 255
      payload.foreach { b =>
        val u = b & 0xff; sum += u
        if (u > mx) mx = u; if (u < mn) mn = u
      }
      f(0) = payload.length.toFloat
      f(1) = sum.toFloat / payload.length
      f(2) = mx.toFloat
      f(3) = mn.toFloat
      var i = 0
      while (i < payload.length) {
        f(4 + (i % 4)) += (payload(i) & 0xff).toFloat / payload.length
        i += 1
      }
    }
    f
  }

  /** documents → media rows: the text bytes stand in for a real blob
    * column (same binary-typed plumbing). */
  def mediaTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), lit("text/plain").as("media_type"),
      encode(col("text"), "UTF-8").as("payload")).as[MediaRow]
  }

  /** Per-partition batched feature extraction. */
  def extractFeatures(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition init slot (codec/model handle) lives here
      it.map { r =>
        MediaFeatures(r.doc_id, r.media_type, r.payload.length,
          decodeStub(r.media_type, r.payload))
      }
    }.toDF()
  }
}
