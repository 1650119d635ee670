package graft.streaming

import graft.model.EventView
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2,
  ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.graftexpr.StreamingFrame
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format(<this class>).load(busPath)` — the provider
  * behind [[EventBus.readStream]].
  */
final class BusSourceProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft-bus", EventView.schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new BusSource(sqlContext.sparkSession, parameters("path"),
      parameters.get("startAfter").map(_.toLong))
}

/** An [[EventBus]] as a Structured Streaming source whose offset is the
  * bus's max committed `sequence_number` — the replayable source with
  * monotone offsets that exactly-once micro-batching builds on
  * (Structured Streaming, SIGMOD 2018), and the reference's
  * offset-addressed consumer (client/pkg/api/client.go:47-54).
  *
  *  - The offset comes from the manifest's LATEST pointer, as
  *    [[EventBus.maxSequenceFrame]] answers: O(1), no directory listing.
  *    A bus with no trusted manifest answers from the data aggregate; a
  *    bus with nothing on disk has no offset.
  *  - The batch `(lo, hi]` reads the files the manifest names above `lo`
  *    ([[EventBus.readAboveSequence]]'s selection, O(new commits)) under
  *    the fixed [[EventView.schema]] (partition columns are layout, not
  *    payload), with the row filter `lo < sequence_number <= hi` unless
  *    the commits' recorded min and max already bound every file to the
  *    range.
  *
  * Compaction keeps sequence numbers, so a rewritten file never puts a
  * row back into a later range: no compaction guard is needed.
  *
  * `startAfter` (None = the bus's beginning) is `lo` of the first batch
  * of a query with no checkpointed offset; later batches start at the
  * offset the checkpoint holds, so a query restarted on its checkpoint
  * neither replays nor skips.
  *
  * Appends must be monotone ([[EventBus.append]]): a row committed at or
  * below an offset already handed out is in no later range. Each new
  * commit's record carries its min, and a commit at or below the last
  * offset handed out fails the query with [[BusSource.NonMonotoneCommit]]
  * instead of losing its rows. The check covers commits the source sees
  * while it runs; a commit that lands out of order while no query runs,
  * or inside a manifest rebuild, goes unchecked.
  */
private[streaming] final class BusSource(spark: SparkSession, path: String,
    startAfter: Option[Long] = None)
    extends Source with SupportsTriggerAvailableNow {
  private val root = new Path(path)
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  // manifest commit id at the last getOffset (-1 = none yet), and the
  // offset it handed out (a start offset counts as handed out)
  private var seenCommit = -1L
  private var handedOut: Option[Long] = startAfter
  // the offset Trigger.AvailableNow fixed at start (None = another trigger)
  private var availableNowEnd: Option[Option[Offset]] = None

  override def schema: StructType = EventView.schema

  // Trigger.AvailableNow runs batches up to the offset seen at start
  // (stateful plans keep their no-data batches); every other trigger
  // asks for the current offset. The read limit is always the default,
  // everything available.
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(getOffset)

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    availableNowEnd.getOrElse(getOffset).orNull

  override def getOffset: Option[Offset] = {
    val latest = EventBus.manifestLatest(spark, path)
    latest.foreach(checkNewCommits)
    val hi = latest match {
      case Some(l) if l.trusted => if (l.hasMax) Some(l.max) else None
      case _ => dataMax
    }
    if (hi.isDefined) handedOut = hi
    hi.map(LongOffset(_))
  }

  /** Fail on any commit past the last one seen whose min is at or below
    * the offset already handed out. Backfill records (no staging) hold
    * rows already on disk, not new commits; records folded into a
    * manifest checkpoint are gone and go unchecked.
    */
  private def checkNewCommits(l: BusManifest.Latest): Unit = {
    for (h <- handedOut if seenCommit >= 0;
         id <- math.max(seenCommit + 1, l.ckpt) to l.id) {
      val rec = try BusManifest.readRecord(fs, root, id)
        catch { case _: java.io.IOException => None }
      rec.filter(_.staging.isDefined).flatMap(_.min).foreach { m =>
        if (m <= h) throw new BusSource.NonMonotoneCommit(
          s"bus $path: commit $id holds sequence_number $m, at or below " +
            s"offset $h this stream already handed out — its rows would " +
            "never be delivered. Appends must commit sequence numbers in " +
            "increasing order (EventBus.append).")
      }
    }
    seenCommit = l.id
  }

  private def dataMax: Option[Long] =
    if (!fs.exists(root)) None
    else Option(spark.read.schema(EventView.schema).parquet(path)
      .agg(max(col("sequence_number"))).head().getAs[java.lang.Long](0))
      .map(_.longValue)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.map(BusSource.sequenceOf).orElse(startAfter)
      .getOrElse(Long.MinValue)
    val hi = BusSource.sequenceOf(end)
    // the commits above lo, less any whose min is above hi (committed
    // after this batch's offset: the next batch's)
    val recs = EventBus.manifestLatest(spark, path)
      .flatMap(EventBus.manifestRecordsAbove(fs, root, _, lo))
      .map(_.filter(r => r.hasMax && !r.min.exists(_ > hi)))
      .filter(_.nonEmpty)
    val read = spark.read.schema(EventView.schema).option("basePath", path)
    val rows = recs.fold(read.parquet(path))(rs => read.parquet(
      EventBus.filesAbove(rs, lo).map(EventBus.qualified(fs, root, _)): _*))
      .select(EventView.schema.fieldNames.toIndexedSeq.map(col): _*)
    // commits with a known min above lo and a max at or below hi hold
    // only range rows: no row filter, so the batch plan carries no
    // per-batch literal and reuses its generated code
    val exact = recs.exists(_.forall(r => r.min.exists(_ > lo) && r.max <= hi))
    val seq = col("sequence_number")
    StreamingFrame(if (exact) rows else rows.filter(seq > lo && seq <= hi))
  }

  override def stop(): Unit = ()
}

object BusSource {

  /** A commit landed at or below an offset the source had handed out. */
  final class NonMonotoneCommit(msg: String) extends IllegalStateException(msg)

  /** The sequence number an offset carries. Refuses any other offset —
    * in practice a checkpoint Spark's file source wrote for this bus
    * (`{"logOffset":N}`), which must never be re-read from zero.
    */
  private[streaming] def sequenceOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => parse(other.json, "stream checkpoint")
  }

  private def parse(json: String, where: String): Long =
    json.trim.toLongOption.getOrElse(throw new IllegalStateException(
      s"$where holds offset '$json', which is not a bus sequence offset: " +
        "it was written by another source (a checkpoint of Spark's file " +
        "source over the bus cannot be resumed). Start the query on a " +
        "fresh checkpoint."))

  /** The offset the stream checkpointed at `checkpoint` has COMMITTED:
    * the source offset in `offsets/<n>` for the highest `n` in
    * `commits/`. None = no committed batch yet. Throws when that offset
    * is not a bus offset (see [[sequenceOf]]).
    */
  def committedOffset(fs: FileSystem, checkpoint: String): Option[Long] = {
    val cp = new Path(checkpoint)
    val commits = new Path(cp, "commits")
    val ids =
      if (!fs.exists(commits)) Array.empty[Long]
      else fs.listStatus(commits).flatMap(_.getPath.getName.toLongOption)
    if (ids.isEmpty) None
    else {
      val in = fs.open(new Path(cp, s"offsets/${ids.max}"))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      // a version header, the batch metadata, then one offset per source
      lines.drop(2) match {
        case Vector(o) => Some(parse(o, s"checkpoint $checkpoint"))
        case other => throw new IllegalStateException(
          s"checkpoint $checkpoint: expected one source offset, got " +
            other.mkString("[", ", ", "]"))
      }
    }
  }
}
