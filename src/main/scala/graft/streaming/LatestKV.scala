package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The DynamoDB table analog (`lambda_kinesis_consumer/lambda_function.py:33-48`:
  * `put_item` keyed `(customer_id, order_id)` = last write wins).
  *
  * Streaming: `mapGroupsWithState` keeps exactly one row of state per
  * key — the highest sequence number seen — and emits the current value
  * per key each micro-batch (OutputMode.Update ≈ DynamoDB's upsert
  * visibility). State holds one row per key ever seen, not per event,
  * and grows with every new key: there is no watermark or timeout, so
  * keys never expire (a TTL is an open ROADMAP item).
  */
object LatestKV {

  case class KV(key: String, seq: Long, value: String)

  def latest(events: Dataset[KV]): Dataset[KV] = {
    implicit val kvEnc = Encoders.product[KV]
    implicit val strEnc = Encoders.STRING
    events
      .groupByKey(_.key)
      .mapGroupsWithState[KV, KV](GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[KV], state: GroupState[KV]) =>
          val incoming = rows.maxBy(_.seq)
          val best = state.getOption match {
            case Some(prev) if prev.seq >= incoming.seq => prev
            case _ => incoming
          }
          state.update(best)
          best
      }
  }

  /** Batch equivalent (same semantics, for parity tests and backfills). */
  def latestBatch(events: Dataset[KV]): Dataset[KV] = {
    implicit val kvEnc = Encoders.product[KV]
    implicit val strEnc = Encoders.STRING
    implicit val pairEnc = Encoders.tuple(strEnc, kvEnc)
    events.groupByKey(_.key).reduceGroups((a, b) => if (a.seq >= b.seq) a else b)
      .map(_._2)
  }
}
