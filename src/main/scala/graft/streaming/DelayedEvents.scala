package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delayed delivery without a timing wheel (SURVEY §7.6).
  *
  * The reference routes events carrying `xvanusdeliverytime` to a system
  * timer eventbus whose timing-wheel buckets re-append them at expiry
  * (server/gateway/proxy/proxy.go:198-229,
  * server/timer/timingwheel/timingwheel.go:303-613). The wheel is an
  * implementation detail of "deliver at T"; the Spark-native design is a
  * spooled delay table plus a periodic release query:
  *
  *   matured  = spool.filter(deliver_at <= now)   → append to target bus
  *   pending  = spool.filter(deliver_at >  now)   → remains
  *
  * Release precision is the trigger interval, replacing the wheel's `tick`
  * config (timingwheel/config.go:21-28). Idempotence comes from (id,
  * attempt): re-releasing the same event is a no-op on a dedup-by-id sink.
  * At 100 TB the spool is partitioned by deliver_at date, so a release pass
  * prunes to the due partitions instead of scanning the spool.
  */
object DelayedEvents {

  /** Split a spool into (matured, pending) at `nowEpochSec`. The deliver-at
    * instant is the `xvanusdeliverytime` attribute stamped at publish/retry.
    */
  def split(spool: DataFrame, nowEpochSec: Long): (DataFrame, DataFrame) = {
    val deliverAt = col("attributes").getItem("xvanusdeliverytime").cast("timestamp")
    val due = deliverAt.isNotNull && deliverAt <= timestamp_seconds(lit(nowEpochSec))
    (spool.filter(due), spool.filter(!coalesce(due, lit(false))))
  }

  /** One release pass: append matured events to the bus named by their
    * `xvanuseventbus` attribute (single-bus form: the provided target).
    */
  def release(spark: SparkSession, spool: DataFrame, target: EventBus,
      nowEpochSec: Long): Long = {
    val (matured, _) = split(spool, nowEpochSec)
    val n = matured.count()
    // rebalance before the append (guide §6): the matured subset keeps
    // the spool scan's split count — near-empty files per release pass
    if (n > 0) target.append(matured.hint("rebalance"))
    n
  }

  /** Bucketed release for the publish-side timer spool (pass a
    * [[BucketedSpool]] as `Publisher.publish`'s timer bus): flush every
    * fully-matured bucket to the target bus in one append, then evict the
    * bucket dirs. Each delayed event is written exactly twice end to end —
    * once into its bucket at publish, once onto the target at expiry — the
    * wheel's write-once contract; pending buckets are never opened.
    */
  def releaseSpooled(spark: SparkSession, spool: BucketedSpool,
      target: EventBus, nowEpochSec: Long): Long = {
    val buckets = spool.maturedBuckets(spark, nowEpochSec)
    if (buckets.isEmpty) 0L
    else {
      val matured = spool.readBuckets(spark, buckets)
      val n = matured.count()
      if (n > 0) target.append(matured.hint("rebalance"))
      spool.evict(spark, buckets)
      n
    }
  }
}
