package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable

/** Per-event trailing-window streaming aggregation (SURVEY.md §2.4 W6,
  * §2.7; reference KDA continuous query `notebooks/1_setup.ipynb:466-478`).
  *
  * Semantics: for every input event, emit that key's COUNT/AVG over the
  * trailing `[t - horizon, t]` event-time window — one output row per
  * input event (KDA pump semantics, T3), keyed state pruned on append.
  * The reference windows over ARRIVAL time (T1); we window over true event
  * time — a documented semantic upgrade. Events are processed in event-time
  * order within each (key, micro-batch); an event older than the key's
  * newest buffered event minus the horizon contributes nothing and emits
  * the aggregate as-of itself (late-data policy matching the reference's
  * 600 s discard, T4). Same-timestamp ties are processed sequentially, so
  * the FIRST tied event's emission sees a partial frame while the batch
  * RANGE window includes all ties — the same per-arrival semantics as the
  * reference's continuous query; the final emission per (key, ts) always
  * agrees with the batch operator.
  *
  * Implementation: `flatMapGroupsWithState` with ProcessingTimeTimeout for
  * idle-key state expiry. The buffer holds (ordUs, cents) pairs inside the
  * horizon — integer cents so streamed aggregates are bit-identical to the
  * batch TrailingWindows operator (the batch≡stream parity gate, SURVEY
  * §5.3). State size per key is bounded by events-per-horizon; at 100 TB
  * scale hot keys should pre-aggregate per (key, second) upstream.
  *
  * The state value is one binary column ([[Buffer]]): the pairs packed as
  * big-endian longs in ascending ordUs, 16 bytes per event. A collection
  * field (`List` or `Array[Long]`) makes the state decoder a `MapObjects`
  * whose lambda variable is renamed on every micro-batch, so its generated
  * code never hits the codegen cache: one Janino compile per batch, run
  * inside a state task while the other state tasks wait on the cache's key
  * lock. A binary field decodes with generated code that stays the same
  * across batches (0 compiles once warm), and at 16 B per event it is also
  * smaller than a list of boxed tuples. Checkpoints written with the old
  * `List` layout cannot be resumed: Spark's state-schema check refuses the
  * changed value schema at restart.
  */
object StreamingAgg {

  /** Input event (cents = exact integer money, ordUs = event-time micros). */
  case class StreamEvent(userId: Long, ordUs: Long, cents: Long)

  /** Per-event emission: trailing count/avg as of this event. */
  case class AggEmit(
      userId: Long,
      ordUs: Long,
      cnt: Long,
      sumCents: Long,
      avgAmount: Double)

  /** Keyed state: the trailing buffer as (ordUs, cents) long pairs in
    * ascending ordUs, packed big-endian, 16 bytes per event.
    */
  case class Buffer(packed: Array[Byte]) {
    def events: Iterator[(Long, Long)] = {
      val b = ByteBuffer.wrap(packed)
      Iterator.fill(packed.length / Buffer.EventBytes)((b.getLong, b.getLong))
    }
  }

  object Buffer {
    val EventBytes = 16

    def pack(events: Array[(Long, Long)]): Buffer = {
      val b = ByteBuffer.allocate(events.length * EventBytes)
      events.foreach { case (ordUs, cents) => b.putLong(ordUs).putLong(cents) }
      Buffer(b.array)
    }
  }

  val HorizonUs: Long = 600L * 1000000L // 10 minutes, reference w1

  /** Per-(key, micro-batch) trailing-window engine shared by the
    * flatMapGroupsWithState and transformWithState forms: ONE O(B) rebuild
    * of the sorted buffer per batch (state deserialization is O(B)
    * regardless), then amortized O(1) per event — head-pruning against the
    * monotone horizon threshold plus tail append for in-order events; a
    * late event pays O(#buffered-newer-events) to splice and re-derive its
    * frame. The previous per-event `List.filter.sortBy` was O(events × B)
    * per batch — quadratic on a hot key, where B = events-per-horizon can
    * reach 10^5+ at 100 TB ingest rates.
    *
    * `appendOnly` stays true while the net effect on the buffer is exactly
    * `prior ++ newEvents` (no prune, no mid-splice) — the condition under
    * which the RocksDB ListState consumer may use O(1)-per-element
    * `appendList` instead of rewriting the whole value.
    */
  private[streaming] final class TrailingBuffer(
      prior: IterableOnce[(Long, Long)],
      horizonUs: Long) {
    private val dq = mutable.ArrayDeque.empty[(Long, Long)] ++= prior
    private var totalCents: Long = {
      var s = 0L; dq.foreach(s += _._2); s
    }
    private var appendOnly = true

    /** Process one event (callers feed events sorted by ordUs within the
      * batch) and return its emission.
      */
    def add(key: Long, e: StreamEvent): AggEmit = {
      val threshold = e.ordUs - horizonUs
      while (dq.nonEmpty && dq.head._1 < threshold) {
        totalCents -= dq.removeHead()._2
        appendOnly = false
      }
      // Splice after the last element with ts <= e.ordUs; the suffix scan
      // is empty for in-order arrivals (the hot-key fast path).
      var sufCnt = 0L
      var sufCents = 0L
      var idx = dq.size
      while (idx > 0 && dq(idx - 1)._1 > e.ordUs) {
        idx -= 1
        sufCnt += 1
        sufCents += dq(idx)._2
      }
      if (idx == dq.size) dq.append((e.ordUs, e.cents))
      else {
        dq.insert(idx, (e.ordUs, e.cents))
        appendOnly = false
      }
      totalCents += e.cents
      // Frame = everything in [threshold, e.ordUs]: the pruned buffer minus
      // the strictly-newer suffix (late-arrival case only).
      val cnt = dq.size - sufCnt
      val sum = totalCents - sufCents
      AggEmit(key, e.ordUs, cnt, sum, sum.toDouble / cnt / 100.0)
    }

    def isAppendOnly: Boolean = appendOnly
    def snapshot: Array[(Long, Long)] = dq.toArray
  }

  private def process(horizonUs: Long, idleTimeoutMs: Option[Long])(
      key: Long,
      events: Iterator[StreamEvent],
      state: GroupState[Buffer]): Iterator[AggEmit] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val engine = new TrailingBuffer(state.getOption.fold(Iterator.empty[(Long, Long)])(_.events), horizonUs)
      val out = events.toSeq.sortBy(_.ordUs).map(e => engine.add(key, e))
      state.update(Buffer.pack(engine.snapshot))
      idleTimeoutMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
  }

  /** Wire the operator onto a stream (or batch Dataset — same code path,
    * which is what the parity tests exploit).
    *
    * @param idleTimeoutMs when set, keys silent for this long have their
    *   state dropped (ProcessingTimeTimeout). Leave None unless needed:
    *   registered timeouts make the engine schedule continuous empty
    *   micro-batches to check them, which is pure overhead for bounded
    *   replays and busy streams.
    */
  def trailingAgg(
      events: Dataset[StreamEvent],
      horizonUs: Long = HorizonUs,
      idleTimeoutMs: Option[Long] = None): Dataset[AggEmit] = {
    implicit val bufEnc: Encoder[Buffer] = Encoders.product[Buffer]
    implicit val outEnc: Encoder[AggEmit] = Encoders.product[AggEmit]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        process(horizonUs, idleTimeoutMs))
  }
}
