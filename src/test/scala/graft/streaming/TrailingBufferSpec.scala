package graft.streaming

import graft.streaming.StreamingAgg.{AggEmit, Buffer, StreamEvent, TrailingBuffer}
import org.scalatest.funsuite.AnyFunSuite

/** The per-batch trailing-buffer engine behind both stateful streaming
  * forms: bit-parity against the previous O(events × B) list
  * implementation, and bounded time on a hot key (round-1..3 finding: the
  * old path was quadratic when one key holds a full horizon of events).
  */
class TrailingBufferSpec extends AnyFunSuite {

  /** The pre-round-4 implementation, verbatim semantics: per event, prune +
    * prepend + re-sort the whole list, then filter the frame.
    */
  private def naive(
      key: Long,
      batches: Seq[Seq[StreamEvent]],
      horizonUs: Long): (Seq[AggEmit], List[(Long, Long)]) = {
    var buf: List[(Long, Long)] = Nil
    val out = batches.flatMap { batch =>
      batch.sortBy(_.ordUs).map { e =>
        buf = ((e.ordUs, e.cents) :: buf.filter(_._1 >= e.ordUs - horizonUs)).sortBy(_._1)
        val inWindow = buf.filter(t => t._1 >= e.ordUs - horizonUs && t._1 <= e.ordUs)
        val cnt = inWindow.size.toLong
        val sum = inWindow.map(_._2).sum
        AggEmit(key, e.ordUs, cnt, sum, sum.toDouble / cnt / 100.0)
      }
    }
    (out, buf)
  }

  private def viaEngine(
      key: Long,
      batches: Seq[Seq[StreamEvent]],
      horizonUs: Long): (Seq[AggEmit], List[(Long, Long)]) = {
    // carried between batches in the packed form the keyed state stores
    var state = Buffer.pack(Array.empty)
    val out = batches.flatMap { batch =>
      val engine = new TrailingBuffer(state.events, horizonUs)
      val emits = batch.sortBy(_.ordUs).map(e => engine.add(key, e))
      state = Buffer.pack(engine.snapshot)
      emits
    }
    (out, state.events.toList)
  }

  test("engine emissions and final buffer are bit-identical to the naive path (random replay with late events)") {
    val rnd = new scala.util.Random(42)
    val horizon = 1000L
    // Timestamps drift forward but individual events jump back up to two
    // horizons — exercising prune, in-order append, late splice, and ties.
    var t = 0L
    val events = (0 until 600).map { i =>
      t += rnd.nextInt(40).toLong
      val ts = math.max(0L, t - (if (rnd.nextInt(5) == 0) rnd.nextInt(2000).toLong else 0L))
      StreamEvent(7L, ts, (rnd.nextInt(9000) + 100).toLong)
    }
    val batches = events.grouped(37).map(_.toSeq).toSeq
    val (naiveOut, naiveBuf) = naive(7L, batches, horizon)
    val (engineOut, engineBuf) = viaEngine(7L, batches, horizon)
    assert(engineOut == naiveOut) // AggEmit == compares the doubles bit-wise via equals
    // Same multiset, same order by ts (tie order may differ; values equal)
    assert(engineBuf.sortBy(identity) == naiveBuf.sortBy(identity))
  }

  test("packed state round-trips: empty, one event, same-ordUs ties, extreme ordUs, negative cents") {
    val cases = Seq(
      Array.empty[(Long, Long)],
      Array((5L, 1234L)),
      Array((7L, 100L), (7L, -3L), (7L, 0L), (8L, 1L)), // tie order is kept as given
      Array((Long.MinValue, 1L), (0L, 0L), (Long.MaxValue, 2L)),
      Array((-20L, -250L), (-20L, Long.MinValue), (3L, Long.MaxValue)))
    cases.foreach { events =>
      val packed = Buffer.pack(events)
      assert(packed.packed.length == 16 * events.length)
      assert(packed.events.toList == events.toList)
    }
  }

  test("appendOnly is true exactly when the batch only appended in order with no prune") {
    val h = 1000L
    val inOrder = new TrailingBuffer(List((10L, 1L)), h)
    inOrder.add(1L, StreamEvent(1L, 20L, 2L))
    assert(inOrder.isAppendOnly)
    val pruned = new TrailingBuffer(List((10L, 1L)), h)
    pruned.add(1L, StreamEvent(1L, 2000L, 2L))
    assert(!pruned.isAppendOnly) // the t=10 element aged out
    val late = new TrailingBuffer(List((10L, 1L), (500L, 3L)), h)
    late.add(1L, StreamEvent(1L, 100L, 2L))
    assert(!late.isAppendOnly) // spliced before t=500
  }

  test("hot key: 50K events in one horizon processes in bounded time (old path was quadratic)") {
    val n = 50000
    val horizon = 1000L * 1000000L // all 50K events fit one horizon
    val events = (0 until n).map(i => StreamEvent(1L, i.toLong * 10L, 100L))
    val start = System.nanoTime()
    val engine = new TrailingBuffer(Nil, horizon)
    val emits = events.map(e => engine.add(1L, e))
    val elapsedMs = (System.nanoTime() - start) / 1000000L
    assert(emits.last.cnt == n.toLong, "every event must be in the final frame")
    assert(emits.last.sumCents == n.toLong * 100L)
    assert(engine.isAppendOnly)
    // The old path did ~n^2/2 = 1.25e9 list traversals here (minutes); the
    // engine is O(n). Generous bound to stay green on loaded CI hardware.
    assert(elapsedMs < 20000L, s"hot-key processing took ${elapsedMs} ms — not O(n)")
  }
}
