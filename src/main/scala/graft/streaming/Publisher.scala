package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Publish-side validation, stamping, and routing — the gateway proxy's
  * Publish path (/root/reference/server/gateway/proxy/proxy.go:166-237,
  * checkExtension at proxy.go:526-540) as one declarative pass.
  *
  * Divergence, by design: the reference rejects the whole HTTP request on
  * the first invalid event. A bulk-ingest pipeline routes per event —
  * valid events land, invalid events come back as a rejected frame — which
  * is the only shape that scales past request-sized batches; callers that
  * want request semantics check `rejected.isEmpty` first.
  */
object Publisher {

  /** Reserved extension-attribute prefix (pkg/primitive: XVanus). */
  val ReservedPrefix = "xvanus"
  /** The one reserved attribute a publisher may set (proxy.go:531-533). */
  val DeliveryTimeAttr = "xvanusdeliverytime"
  /** Stamped on every accepted event with the target bus (proxy.go:199-201). */
  val EventbusAttr = "xvanuseventbus"

  /** checkExtension: no extension attribute may use the reserved prefix,
    * except the delivery-time request attribute.
    */
  def hasInvalidAttr: Column =
    exists(map_keys(col("attributes")),
      k => k.startsWith(ReservedPrefix) && k =!= lit(DeliveryTimeAttr))

  private def deliveryTime: Column = col("attributes").getItem(DeliveryTimeAttr)

  /** Delivery time, when present, must parse as RFC3339
    * (pkg/time.go:23-37; proxy.go:202-222 rejects the request otherwise).
    */
  def hasInvalidDeliveryTime: Column =
    deliveryTime.isNotNull &&
      try_to_timestamp(deliveryTime, lit("yyyy-MM-dd'T'HH:mm:ssXXX")).isNull

  final case class Routed(
      accepted: DataFrame, delayed: DataFrame, rejected: DataFrame)

  /** Validate and split one publish batch: rejected events unchanged;
    * valid events stamped with `xvanuseventbus`; those carrying a delivery
    * time route to the timer spool (proxy.go:202-229), the rest to the
    * target bus. One scan shape — three filters over the same frame.
    */
  def route(events: DataFrame, busName: String): Routed = {
    // coalesce: a NULL attributes map must route as valid (empty
    // extensions), not vanish from both sides of the split
    val bad = coalesce(hasInvalidAttr || hasInvalidDeliveryTime, lit(false))
    val stamped = events.filter(!bad).withColumn("attributes",
      Attrs.stamp(col("attributes"), EventbusAttr -> lit(busName)))
    Routed(
      accepted = stamped.filter(deliveryTime.isNull),
      delayed = stamped.filter(deliveryTime.isNotNull),
      rejected = events.filter(bad))
  }

  final case class PublishResult(accepted: Long, delayed: Long, rejected: Long)

  /** Full publish: route, append direct events to the bus and delayed
    * events to the timer spool; rejected count returned (the caller's 400).
    *
    * Scan discipline: one Spark job per non-empty append and nothing
    * else when the input is local, one source scan otherwise.
    *  - Local input (its optimized plan is a `LocalRelation`, which every
    *    request-sized publish is): `ConvertToLocalRelation` evaluates the
    *    route filters on the driver, so the three counts are the sizes of
    *    the routed frames' own `LocalRelation`s — no persist, no
    *    aggregation job — and each append lands as one file
    *    ([[EventBus.append]]).
    *  - Any other input is persisted on entry, all three counts come from
    *    ONE aggregation job over the cached copy, and the appends read the
    *    cache — one source scan per publish regardless of routing fan-out
    *    (the round-2 spelling re-evaluated the un-persisted route filters
    *    up to 5×: three count() actions plus two appends).
    */
  def publish(events: DataFrame, bus: EventBus, timerBus: EventBus,
      busName: String): PublishResult = {
    def land(r: Routed, c: PublishResult): PublishResult = {
      if (c.accepted > 0) bus.append(r.accepted)
      if (c.delayed > 0) timerBus.append(r.delayed)
      c
    }
    val local = EventBus.localRows(events).flatMap { _ =>
      val r = route(events, busName)
      for {
        a <- EventBus.localRows(r.accepted)
        d <- EventBus.localRows(r.delayed)
        j <- EventBus.localRows(r.rejected)
      } yield (r, PublishResult(a.toLong, d.toLong, j.toLong))
    }
    local match {
      case Some((r, c)) => land(r, c)
      case None =>
        import org.apache.spark.storage.StorageLevel
        val cached = events.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val bad = coalesce(hasInvalidAttr || hasInvalidDeliveryTime, lit(false))
          val c = cached.agg(
            count(when(!bad && deliveryTime.isNull, 1)),
            count(when(!bad && deliveryTime.isNotNull, 1)),
            count(when(bad, 1))).head
          land(route(cached, busName),
            PublishResult(c.getLong(0), c.getLong(1), c.getLong(2)))
        } finally { cached.unpersist(); () }
    }
  }
}
