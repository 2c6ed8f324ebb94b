package graft.streaming

import graft.streaming.StreamingAgg.{AggEmit, StreamEvent}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Spark-4-native form of the per-event trailing-window operator
  * (SURVEY.md §2.8): a `StatefulProcessor` driven by `transformWithState`,
  * holding the trailing buffer in engine-managed `ListState` instead of
  * one packed value per key (the [[StreamingAgg.Buffer]] of the
  * flatMapGroupsWithState form) — the state store sees individual list
  * elements, which with the RocksDB provider means an in-order batch
  * appends only its new elements instead of rewriting the key's whole
  * buffer.
  *
  * Semantics are identical to [[StreamingAgg.trailingAgg]] (the
  * flatMapGroupsWithState form, which remains the default-state-store
  * fallback); the parity test drives both over the same replay.
  *
  * Requires `spark.sql.streaming.stateStore.providerClass =
  * ...RocksDBStateStoreProvider` on the session.
  */
class TrailingAggProcessor(horizonUs: Long)
    extends StatefulProcessor[Long, StreamEvent, AggEmit] {

  @transient private var buffer: ListState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buffer = getHandle.getListState[(Long, Long)](
      "trailing_buffer",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[StreamEvent],
      timerValues: TimerValues): Iterator[AggEmit] = {
    val engine = new StreamingAgg.TrailingBuffer(
      if (buffer.exists()) buffer.get() else Iterator.empty,
      horizonUs)
    val newEvents = rows.toSeq.sortBy(_.ordUs)
    val out = newEvents.map(e => engine.add(key, e))
    // RocksDB-friendly write: when nothing aged out and no late splice
    // happened, append only the new elements instead of rewriting the whole
    // list (append is O(1) per element in the RocksDB ListState; full put
    // rewrites the value)
    if (engine.isAppendOnly)
      buffer.appendList(newEvents.map(e => (e.ordUs, e.cents)).toArray)
    else
      buffer.put(engine.snapshot)
    out.iterator
  }
}

object TrailingAggProcessor {

  /** Wire the operator onto a keyed stream (RocksDB-backed sessions). */
  def trailingAgg(
      events: Dataset[StreamEvent],
      horizonUs: Long = StreamingAgg.HorizonUs): Dataset[AggEmit] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[AggEmit] = Encoders.product[AggEmit]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .transformWithState(
        new TrailingAggProcessor(horizonUs),
        TimeMode.None(),
        OutputMode.Append())
  }
}
