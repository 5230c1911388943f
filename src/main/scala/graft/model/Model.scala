package graft.model

/* Core job/data model, re-expressed for Spark from the reference's
  * Source/WorkUnit/State abstractions:
  *   - Watermarks: gobblin-api/.../source/extractor/Watermark.java,
  *     LongWatermark / MultiLongWatermark
  *     (gobblin-modules/gobblin-kafka-common/.../kafka/MultiLongWatermark.java)
  *
  * In the Spark re-design a "WorkUnit" collapses into a read-spec the
  * driver computes from the state store; Spark owns task distribution.
  */

/** Monotonic progress marker; serialized into the JSON state store. */
sealed trait Watermark {
  def serialize: String
}

/** Simple numeric watermark (record id, epoch millis, file mtime…). */
final case class LongWatermark(value: Long) extends Watermark {
  def serialize: String = value.toString
}

/** One offset per partition (Kafka-style).
  * Reference: MultiLongWatermark.java.
  */
final case class MultiWatermark(values: Map[String, Long]) extends Watermark {
  def serialize: String =
    values.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
}

object Watermark {
  def parseLong(s: String): LongWatermark = LongWatermark(s.toLong)
  def parseMulti(s: String): MultiWatermark =
    if (s.isEmpty) MultiWatermark(Map.empty)
    else MultiWatermark(s.split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v.toLong
    }.toMap)
}

/** A declarative ingestion job: source read-spec + transform chain +
  * quality policies + sink + publish policy. Replaces the reference's
  * Source→Extractor→Converter*→Policies→Writer→Publisher construct chain
  * (gobblin-api/.../Constructs.java:33-47) with one Spark action per
  * dataset/branch.
  */
final case class JobSpec(name: String)
