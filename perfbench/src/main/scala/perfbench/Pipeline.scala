package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.datagen.TransactionGen
import graft.operators.{FeatureAggJob, TrailingWindows}
import graft.store.OnlineFeatureStore
import graft.streaming.{EnrichAndScore, StreamingAgg}
import graft.streaming.StreamingAgg.{AggEmit, StreamEvent}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One stream workload: `rate` events per second, scored against a batch
  * store that `historyTxns` earlier transactions over `cards` card numbers
  * pre-build.
  */
final case class Shape(rate: Int, cards: Int, historyTxns: Long) {

  /** One MemoryStream partition per 1,000 ev/s, the reference's per-shard ceiling. */
  def shards: Int = math.max(1, rate / 1000)

  /** Cards the stream replays: as many as give each card
    * [[Pipeline.RefWindowDepth]] events per 10-minute window at this rate
    * and [[Pipeline.ReplaySpeed]]. They are the first cards of the history,
    * so every streamed card also has a batch record.
    */
  def streamCards: Int = math.round(rate * Pipeline.WindowWallSeconds / Pipeline.RefWindowDepth).toInt
}

/** The reference pipeline driven from the benchmark: a batch trailing-window
  * job pre-builds the 1-week store, then an open-loop generator replays
  * later transactions through the streaming 10-minute aggregate into the
  * stream store and scores every event as it is generated.
  */
object Pipeline {
  val BatchFeatures: Seq[String] = Seq("cnt_1w", "avg_1w")
  val StreamFeatures: Seq[String] = Seq("cnt_10m", "avg_10m")
  private val StartSec = 1577836800L // 2020-01-01, as the reference
  /** The reference's per-card density: 5.4 M txns on 10 K cards over 5 months. */
  private val RefTxnsPerCardSec = 5400000.0 / 10000 / (1590969600L - StartSec)
  /** Event-time seconds the stream replays per wall second. At 60 the
    * 10-minute window and the 600 s staleness cutoff both span ten wall
    * seconds, short enough that the warm-up fills the window before the
    * measured one starts.
    */
  val ReplaySpeed = 60
  val WindowWallSeconds: Double = StreamingAgg.HorizonUs / 1e6 / ReplaySpeed
  /** Events per card in one 10-minute window of the reference's stream. It
    * windows by arrival time (KDA `ROWTIME`, SURVEY.md W6 and T1), so a
    * window holds what one shard ingests in 10 minutes: 1,000 rec/s x 600 s
    * over its 10,000 cards (BASELINE.md) is 60 events per card. The stream
    * card count keeps this depth at both rates, so the state buffers the
    * aggregate rewrites each micro-batch are as deep as the reference's.
    */
  val RefWindowDepth = 60
  /** Micro-batch trigger interval. A fixed interval fixes each batch's size
    * at rate x interval; with back-to-back batches a slow batch made the next
    * one bigger and slower, and freshness drifted between runs.
    */
  val TriggerMs = 500L
  /** One `score` call in this many is kept as a span; the rest are only timed. */
  val ScoreSpanEvery = 100

  def historySpanSec(shape: Shape): Long = math.ceil(shape.historyTxns / (shape.cards * RefTxnsPerCardSec)).toLong

  /** The batch input: `rows` transactions, cached until the caller unpersists `df`. */
  final case class History(df: DataFrame, rows: Long, genS: Double)

  /** Generates `shape.historyTxns` transactions at the reference's per-card
    * density and caches them.
    */
  def history(spark: SparkSession, shape: Shape, seed: Long): History = {
    val t0 = System.nanoTime()
    val df = TransactionGen
      .transactions(
        spark,
        TransactionGen.Params(
          nCards = shape.cards,
          nTxns = shape.historyTxns,
          startEpochSec = StartSec,
          endEpochSec = StartSec + historySpanSec(shape),
          seed = seed))
      .cache()
    val rows = df.count()
    History(df, rows, (System.nanoTime() - t0) / 1e9)
  }

  /** One batch pre-build over the cached history: windows, training CSV and
    * store upsert. The job's cached aggregates are dropped afterwards, so the
    * next pre-build computes them again.
    */
  def preBuild(spark: SparkSession, history: DataFrame, csvPath: String, tracer: Option[Tracer]): (OnlineFeatureStore, Double) = {
    val store = new OnlineFeatureStore(BatchFeatures)
    val t0 = System.nanoTime()
    def run() = FeatureAggJob.run(history, "cc_num", "datetime", "amount", store, Some(csvPath))
    val result = tracer.fold(run())(_.span(spark.sparkContext, "operators.FeatureAggJob.run")(run()))
    val jobS = (System.nanoTime() - t0) / 1e9
    result.aggregates.unpersist(blocking = true)
    (store, jobS)
  }

  /** The first `n` transactions after the history, over
    * [[Shape.streamCards]] cards and replayed at [[ReplaySpeed]], as stream
    * events in event-time order.
    */
  def streamEvents(spark: SparkSession, shape: Shape, seed: Long, n: Int): Array[StreamEvent] = {
    import spark.implicits._
    val start = StartSec + historySpanSec(shape)
    TransactionGen
      .transactions(
        spark,
        TransactionGen.Params(
          nCards = shape.streamCards,
          nTxns = n.toLong,
          startEpochSec = start,
          endEpochSec = start + math.ceil(n.toDouble / shape.rate * ReplaySpeed).toLong,
          seed = seed + 1))
      .select(
        col("cc_num").as("userId"),
        unix_micros(col("datetime")).as("ordUs"),
        round(col("amount") * 100).cast("long").as("cents"))
      .as[StreamEvent]
      .collect()
      .sortBy(_.ordUs)
      .take(n)
  }

  /** Compares every stored `(key, event_time_us, cnt_1w, avg_1w)` with an
    * independent SQL `RANGE BETWEEN` formulation over the same history.
    * Returns (keys checked, mismatches).
    */
  def checkBatchStore(spark: SparkSession, history: DataFrame, store: OnlineFeatureStore): (Long, Long) = {
    history.select(col("cc_num"), col("datetime"), col("amount")).createOrReplaceTempView("perfbench_history")
    val expected = spark
      .sql(
        """SELECT DISTINCT cc_num, ord, cnt, av FROM (
          |  SELECT cc_num, ord,
          |    COUNT(*) OVER w AS cnt,
          |    AVG(amount) OVER w AS av,
          |    MAX(ord) OVER (PARTITION BY cc_num) AS last_ord
          |  FROM (SELECT cc_num, unix_micros(datetime) AS ord, amount FROM perfbench_history)
          |  WINDOW w AS (PARTITION BY cc_num ORDER BY ord
          |               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
          |WHERE ord = last_ord""".stripMargin)
      .collect()
    spark.catalog.dropTempView("perfbench_history")
    val wrong = expected.count { r =>
      store.get(r.getLong(0)) match {
        case Some((t, vs)) => t != r.getLong(1) || vs(0) != r.getLong(2).toDouble || vs(1) != r.getDouble(3)
        case None => true
      }
    }
    val extra = math.max(0, store.size - expected.length)
    (expected.length.toLong, (wrong + extra).toLong)
  }

  /** Per-event results of one stream pass, indexed like its events.
    * `freshMs` is NaN for an event not visible within the 600 s cutoff,
    * ten wall seconds at the replay speed.
    * Events from `windowStart` on form the measured window, which began at
    * `windowStartMs` (epoch ms).
    */
  final case class StreamPass(
      n: Int,
      windowStart: Int,
      windowStartMs: Long,
      parityChecked: Boolean,
      freshMs: Array[Double],
      scoreUs: Array[Double],
      serviceUs: Array[Double],
      lateMs: Array[Double],
      invisible: Int,
      duplicates: Int,
      parityWrong: Int,
      scoreErrors: Int,
      scored: Int,
      fresh: Int,
      backlogMax: Long,
      sinkBatchMs: Seq[Double],
      sinkCollectMs: Seq[Double],
      upsertMs: Seq[Double],
      storeRecords: Int) {
    def attempted: Long = (if (parityChecked) 3L else 2L) * n
    def failed: Long = invisible + duplicates + parityWrong + scoreErrors

    def measured(xs: Array[Double]): Array[Double] = xs.drop(windowStart)
  }

  /** Replays `events` at `rate` per second from this thread on a fixed
    * schedule: each event is due at `i / rate` seconds, is stamped when the
    * generator creates it, is scored against the stores at once, and is then
    * handed to the stream. The first `windowStart` events warm the query and
    * fill its state; `onWindowStart` runs when the first event after them
    * falls due. The pass ends when every event is visible in the stream store
    * or `drainCapS` seconds after the last one was due.
    */
  def streamPass(
      spark: SparkSession,
      events: Array[StreamEvent],
      windowStart: Int,
      shape: Shape,
      batchStore: OnlineFeatureStore,
      checkpoint: String,
      drainCapS: Int,
      checkParity: Boolean,
      tracer: Option[Tracer],
      onWindowStart: () => Unit = () => ()): StreamPass = {
    import spark.implicits._
    val n = events.length
    val stampNs = new Array[Long](n)
    val visibleNs = Array.fill(n)(-1L)
    val indexOf = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[Int]]
    events.indices.foreach(i => indexOf.getOrElseUpdate((events(i).userId, events(i).ordUs), mutable.ArrayBuffer()) += i)
    val emittedOf = mutable.HashMap.empty[(Long, Long), Int]
    val lastEmit = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    var duplicates = 0
    val emitted = new AtomicLong(0L)
    val streamStore = new OnlineFeatureStore(StreamFeatures)
    val sinkBatchMs, sinkCollectMs, upsertMs = mutable.ArrayBuffer.empty[Double]

    def sink(ds: Dataset[AggEmit], batchId: Long): Unit = {
      val b0 = System.nanoTime()
      val rows = ds.collect()
      val b1 = System.nanoTime()
      rows.foreach(e => streamStore.put(e.userId, e.ordUs, Array(e.cnt.toDouble, e.avgAmount)))
      val visible = System.nanoTime()
      rows.foreach { e =>
        val key = (e.userId, e.ordUs)
        val seen = emittedOf.getOrElse(key, 0)
        indexOf.get(key) match {
          case Some(ix) if seen < ix.size =>
            visibleNs(ix(seen)) = visible
            emittedOf(key) = seen + 1
          case _ => duplicates += 1
        }
        lastEmit(key) = (e.cnt, e.sumCents)
      }
      emitted.addAndGet(rows.length.toLong)
      val b2 = System.nanoTime()
      sinkBatchMs += (b2 - b0) / 1e6
      sinkCollectMs += (b1 - b0) / 1e6
      upsertMs += (visible - b1) / 1e6
      tracer.foreach { t =>
        t.record("sink.collect", b0, b1)
        t.record("store.OnlineFeatureStore.put", b1, visible)
        t.record("sink.batch", b0, b2)
      }
    }

    val source = MemoryStream[StreamEvent](spark, shape.shards)
    val query = StreamingAgg
      .trailingAgg(source.toDS())
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch(sink _)
      .start()

    val scoreNs, serviceNs, lateNs = new Array[Long](n)
    var scoreErrors, scored, fresh = 0
    var backlogMax = 0L
    var windowStartMs = 0L
    val periodNs = 1e9 / shape.rate
    try {
      val t0 = System.nanoTime() + 20000000L
      def due(i: Int): Long = t0 + (i * periodNs).toLong
      var i = 0
      while (i < n) {
        val now = System.nanoTime()
        if (now < due(i)) LockSupport.parkNanos(due(i) - now)
        else {
          if (i <= windowStart && windowStartMs == 0L && due(windowStart) <= now) {
            windowStartMs = System.currentTimeMillis()
            onWindowStart()
          }
          var j = i
          while (j < n && due(j) <= now) { stampNs(j) = now; lateNs(j) = now - due(j); j += 1 }
          var k = i
          while (k < j) {
            val e = events(k)
            val s = System.nanoTime()
            val result =
              try EnrichAndScore.score(streamStore, batchStore, e.userId, e.ordUs, e.cents / 100.0, e.ordUs)
              catch { case _: Throwable => scoreErrors += 1; None }
            val end = System.nanoTime()
            scoreNs(k) = end - due(k)
            serviceNs(k) = end - s
            if (tracer.isDefined) {
              if (k % ScoreSpanEvery == 0) tracer.get.record("streaming.EnrichAndScore.score", s, end)
              if (k >= windowStart) {
                if (result.isDefined) scored += 1
                if (streamStore.get(e.userId).exists(r => e.ordUs - r._1 <= EnrichAndScore.CutoffUs)) fresh += 1
              }
            }
            k += 1
          }
          source.addData(events.slice(i, j).toSeq)
          i = j
          if (i > windowStart) backlogMax = math.max(backlogMax, i - emitted.get())
        }
      }
      val deadline = System.nanoTime() + drainCapS * 1000000000L
      while (emitted.get() < n && System.nanoTime() < deadline && query.isActive) Thread.sleep(1)
    } finally query.stop()

    // the 600 s event-time cutoff, in wall time at the replay speed
    val cutoffNs = EnrichAndScore.CutoffUs * 1000L / ReplaySpeed
    val freshMs = events.indices.map { i =>
      val lag = visibleNs(i) - stampNs(i)
      if (visibleNs(i) >= 0 && lag <= cutoffNs) lag / 1e6 else Double.NaN
    }.toArray
    val parityWrong =
      if (!checkParity) 0
      else {
        val expected = TrailingWindows
          .aggregates(
            events.toSeq.toDF().withColumn("ts", timestamp_micros(col("ordUs"))),
            "userId", "ts", "cents", Seq("10m" -> 600L))
          .select(col("userId"), col("ordUs"), col("cnt_10m"), col("sum_10m"))
          .as[(Long, Long, Long, Long)]
          .collect()
        expected.count { case (k, t, c, s) => !lastEmit.get((k, t)).contains((c, s)) }
      }
    StreamPass(
      n = n,
      windowStart = windowStart,
      windowStartMs = windowStartMs,
      parityChecked = checkParity,
      freshMs = freshMs,
      scoreUs = scoreNs.map(_ / 1e3),
      serviceUs = serviceNs.map(_ / 1e3),
      lateMs = lateNs.map(_ / 1e6),
      invisible = freshMs.count(_.isNaN),
      duplicates = duplicates,
      parityWrong = parityWrong,
      scoreErrors = scoreErrors,
      scored = scored,
      fresh = fresh,
      backlogMax = backlogMax,
      sinkBatchMs = sinkBatchMs.toSeq,
      sinkCollectMs = sinkCollectMs.toSeq,
      upsertMs = upsertMs.toSeq,
      storeRecords = streamStore.size)
  }
}
