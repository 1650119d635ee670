package graft.transform

import graft.json.{JValue, JNull}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._
import scala.collection.immutable.VectorMap

/** Runs a subscription transformer over an EventView frame (SURVEY §7.4).
  *
  * The pipeline is an ordered sequence of stateful mutations with per-step
  * existence checks and log-and-continue error handling — not expressible as
  * independent Catalyst columns — so it runs as a typed `mapPartitions`
  * interpreter. The spec is parsed ONCE on the driver (mirroring the
  * reference's create-time compile, subscription.go validation) and shipped
  * to executors as a small immutable object; per-row work is pure JVM with
  * no reflection or JSON-spec reparsing.
  *
  * Scale note: this is embarrassingly parallel (no shuffle, no state across
  * rows); at 100 TB throughput is bounded by JSON parse/serialize per event.
  * It is the only implementation of the actions: subscriptions and the
  * catalog's `action_*`/`template_*` queries both run it.
  */
object TransformRunner {

  val outputSchema: StructType = StructType(Seq(
    StructField("sequence_number", LongType),
    StructField("id", StringType),
    StructField("source", StringType),
    StructField("type", StringType),
    StructField("datacontenttype", StringType),
    StructField("body", StringType),
    StructField("transform_error", StringType)))

  /** Apply `specJson` to every event; `df` must have the EventView shape. */
  def apply(df: DataFrame, specJson: String): DataFrame = {
    val spec = Transformer.parseSpec(specJson) match {
      case Right(s) => s
      case Left(err) => throw new IllegalArgumentException(s"bad transformer spec: $err")
    }
    val fieldIdx = df.schema.fieldNames.zipWithIndex.toMap
    val enc = Encoders.row(outputSchema)
    // runs at the caller's partitioning: micro-batches arrive pre-split
    // from the stream source, and batch callers with few-split heavy
    // inputs can Tables.fanOut upstream — forcing a shuffle here would
    // tax every micro-batch for the rare single-split case
    df.mapPartitions { rows =>
      rows.map { row =>
        def str(name: String): Option[String] = fieldIdx.get(name)
          .filterNot(row.isNullAt).map(row.getString)
        val seq = fieldIdx.get("sequence_number").filterNot(row.isNullAt)
          .map(row.getLong).getOrElse(0L)
        // EventView declares TimestampType, but accept a caller-built frame
        // whose time column stayed TIMESTAMP_NTZ (naive parquet reads): both
        // externalize through this match; NTZ wall-clock is taken as UTC,
        // matching the session timezone pinned by GraftSession.
        val time = fieldIdx.get("time").filterNot(row.isNullAt).map { i =>
          row.get(i) match {
            case t: java.sql.Timestamp => t.toInstant.toString
            case dt: java.time.LocalDateTime => dt.toInstant(java.time.ZoneOffset.UTC).toString
            case inst: java.time.Instant => inst.toString
            case other => other.toString
          }
        }
        val exts = fieldIdx.get("attributes").filterNot(row.isNullAt)
          .map(i => VectorMap.from(row.getMap[String, String](i)))
          .getOrElse(VectorMap.empty[String, String])
        val rawData = str("data").getOrElse("")
        val ev = EventValue(
          id = str("id").getOrElse(""),
          source = str("source").getOrElse(""),
          specversion = str("specversion").getOrElse("1.0"),
          etype = str("type").getOrElse(""),
          subject = str("subject"),
          time = time,
          dataschema = str("dataschema"),
          datacontenttype = str("datacontenttype"),
          extensions = exts,
          data = JValue.parseOpt(rawData).getOrElse(JNull))
        // unparseable body with a parse-requiring spec is a transform error
        // routed to DLQ by the runner (trigger.go:323-335)
        Transformer.execute(spec, ev) match {
          case Right(out) => Row(seq, out.event.id, out.event.source, out.event.etype,
            out.contentType, out.body, null)
          case Left(err) => Row(seq, ev.id, ev.source, ev.etype,
            ev.datacontenttype.orNull, rawData, err)
        }
      }
    }(enc)
  }
}
